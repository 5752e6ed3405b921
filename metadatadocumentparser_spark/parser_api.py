"""User-facing facade mirroring the reference's PDFMetadataParser surface.

A reference user writes (reference README / parser.py:19-125):

    parser = PDFMetadataParser(path, footer_margin=50, header_margin=50,
                               fast_column_detection=True)
    result = parser.parse(extract_text=True, extract_images=True, ...,
                          text_method="pymupdf", strict_mode=False)
    parser.export(result, format="toon")
    parser.compare_extraction_methods()
    parser.save_images(result, outdir)
    parser.visualize_columns()

This class keeps those call shapes over a transcripts DataFrame (one
"document" per turn). ``fast_column_detection`` is accepted and ignored
exactly like the reference, whose fast path is a stub that delegates to the
detailed algorithm (layout.py:120-138) — one implementation, flag kept for
API compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .operators.multimodal import attach_image_bytes
from .plans.pipeline import extract_all
from .sinks.export import (
    canonical_struct,
    canonical_struct_from_parsed,
    compare_export_formats,
    compare_extraction_methods,
    export,
    save_images,
    visualize_columns,
)


class TranscriptExtractor:
    """The reference parser's API over a transcripts DataFrame."""

    def __init__(
        self,
        transcripts: DataFrame,
        footer_margin: int = 50,
        header_margin: int = 50,
        fast_column_detection: bool = True,  # accepted, no-op (see module doc)
    ):
        self.df = transcripts
        self.footer_margin = footer_margin
        self.header_margin = header_margin
        self.fast_column_detection = fast_column_detection
        self._last_text_method = "pymupdf"
        self._last_parse = None

    def parse(
        self,
        extract_text: bool = True,
        extract_images: bool = True,
        extract_tables: bool = True,
        extract_formulas: bool = False,
        text_method: str = "pymupdf",
        table_method: str = "camelot",
        layout_aware: bool = True,
        column_aware: bool = True,
        strict_mode: bool = False,
        ocr_strategy=None,
    ) -> dict:
        """parse() (parser.py:56-125): dict of output DataFrames. Matching
        the reference, extract_formulas=False leaves the formulas entry as
        an empty-plan DataFrame rather than omitting the key."""
        outs = extract_all(
            self.df,
            strict_mode=strict_mode,
            ocr_strategy=ocr_strategy,
            text_method=text_method,
            table_method=table_method,
            layout_aware=layout_aware,
            column_aware=column_aware,
            header_margin=self.header_margin,
            footer_margin=self.footer_margin,
            extract_text=extract_text,
            extract_images_flag=extract_images,
            extract_tables_flag=extract_tables,
        )
        if not extract_formulas:
            outs["formulas"] = outs["formulas"].limit(0)
        # remember the method for the export surface: the exported
        # document's extraction_method must report the method USED
        # (r5 review — it was hardcoded "pymupdf")
        self._last_text_method = text_method
        # the export fast path (canonical_struct_from_parsed) replays the
        # formula stage array-side, so it must know the parse's mode, and
        # it holds only for exactly these tables (a snapshot: later edits
        # to the returned dict must not match); an OCR strategy
        # post-processes the formulas TABLE, which only the aggregate form
        # can consume
        self._last_parse = (
            None if ocr_strategy is not None
            else (dict(outs), strict_mode, extract_formulas)
        )
        return outs

    def compare_extraction_methods(self) -> dict:
        return compare_extraction_methods(self.df)

    def export_to_dict(self, outs: dict) -> DataFrame:
        return self._struct(outs)

    def export(self, outs: dict, format: str = "toon", delimiter: str = ",") -> DataFrame:
        return export(self._struct(outs), format=format, delimiter=delimiter)

    def _struct(self, outs: dict) -> DataFrame:
        # shuffle-free array-side build straight off the parsed table
        # (r6) only when outs holds exactly the tables the latest parse()
        # returned; anything else (an earlier parse, caller-edited tables,
        # OCR'd formulas) goes through the aggregate form, which reads the
        # tables it is handed
        if self._last_parse is not None:
            tables, strict_mode, extract_formulas = self._last_parse
            if outs.keys() == tables.keys() and all(
                outs[k] is tables[k] for k in tables
            ):
                return canonical_struct_from_parsed(
                    outs["parsed"],
                    extraction_method=self._last_text_method,
                    strict_mode=strict_mode,
                    include_formulas=extract_formulas,
                )
        return canonical_struct(outs, extraction_method=self._last_text_method)

    def compare_export_formats(self, doc_dict: dict) -> dict:
        return compare_export_formats(doc_dict)

    def save_images(self, outs: dict, output_dir: str) -> int:
        return save_images(attach_image_bytes(outs["images"]), output_dir)

    def visualize_columns(self, n_turns: int = 3) -> list:
        return visualize_columns(
            self.df, n_turns=n_turns,
            header_margin=self.header_margin, footer_margin=self.footer_margin,
        )
