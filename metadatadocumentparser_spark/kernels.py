"""The vectorized structural parse kernel (the engine's ONE heavy UDF).

``mapInArrow`` over transcript rows: each Arrow batch of turns is parsed
structurally (payload → blocks/images/tables/meta/segments with char spans)
and returned as nested arrays — one output row per turn. Everything
downstream (classification, formula scoring, LaTeX, boilerplate tree,
ordering, indexes) is native Catalyst on the exploded arrays.

The docparse/htmlseg record dicts go straight into
``pa.RecordBatch.from_pylist`` against the schema derived from PARSED_DDL:
Arrow reads only the fields the schema names (extra keys such as
``extracted_text``/``spans`` are ignored), so the kernel copies nothing
field by field — only ``meta.page_sizes`` changes shape, ``[w, h]`` lists
to tuples (Arrow builds a struct from a tuple positionally, not from a
list).

Scale notes:
- per-turn independence → the kernel needs no grouping, no shuffle; it runs
  map-side on whatever partitioning arrives. plans/pipeline.parse_transcripts
  repartitions by (conv_id, turn_idx) first only when the input has fewer
  splits than the cluster parallelism (or when asked), which removes
  conversation-level skew for clustered inputs (SURVEY.md §4.2).
- Arrow batch size is capped via spark.sql.execution.arrow.maxRecordsPerBatch
  (session.py) so multi-MB turn payloads cannot blow executor memory.
"""

from __future__ import annotations

import inspect

from . import docparse, htmlseg

PARSED_DDL = ", ".join(
    [
        "conv_id string",
        "turn_idx int",
        "role string",
        "tool string",
        "ts timestamp",
        "html_raw string",
        "is_html boolean",
        (
            "meta struct<title:string,author:string,subject:string,creator:string,"
            "producer:string,creation_date:string,modification_date:string,"
            "num_pages:int,file_size:bigint,"
            "page_sizes:array<struct<width:double,height:double>>>"
        ),
        "column_layout string",
        # NOTE (r6): extracted_text and spans are NOT materialized in the
        # parsed layer — both are pure per-turn functions of `blocks`
        # (text = block texts joined by '\n\n'; spans = the blocks'
        # (span_start, span_end) pairs, parse_doc's exact construction),
        # so turns_of derives them natively (array_join / transform) and
        # the kernel does not encode, the JVM does not row-convert, and
        # the staging write does not store ~22% duplicated bytes.
        (
            "blocks array<struct<block_idx:int,page_num:int,bbox:array<double>,"
            "text:string,font_size:double,font_name:string,needs_classify:boolean,"
            "page_height:double,span_start:int,span_end:int>>"
        ),
        (
            "images array<struct<image_index:int,page_num:int,bbox:array<double>,"
            "width:int,height:int,colorspace:string,ext:string,image_bytes:binary>>"
        ),
        (
            "tables array<struct<table_index:int,page_num:int,bbox:array<double>,"
            "data:array<array<string>>,extraction_method:string>>"
        ),
        (
            "segments array<struct<seg_idx:int,text:string,start:int,`end`:int,"
            "tag_path:string,words:int,link_density:double,boiler_container:boolean>>"
        ),
    ]
)



_IN_COLS = ("conv_id", "turn_idx", "role", "tool", "ts", "text")


def _turn_record(conv_id, turn_idx, role, tool, ts, text, flags) -> dict | None:
    """Parse ONE turn into its output-row dict. Returns None for a row with
    no usable (conv_id, turn_idx) key — the schema allows NULLs there, and
    a keyless row is skipped rather than failing the task (the engine's
    never-fail-the-document posture; reference parser.py:148-150 swallows
    per-stage errors)."""
    if conv_id is None or turn_idx is None:
        return None
    rec = docparse.parse_turn(text if isinstance(text, str) else "", **flags)
    html = rec["html"]
    meta = rec["meta"]
    meta["page_sizes"] = [tuple(p) for p in meta["page_sizes"]]
    rec.update(conv_id=conv_id, turn_idx=turn_idx, role=role, tool=tool, ts=ts,
               html_raw=html, is_html=html is not None)
    if html is not None:
        rec["segments"] = htmlseg.segment_html(html, rec["html_start"])
        rec["column_layout"] = None
    else:
        rec["segments"] = []
    return rec


def make_parse_kernel_arrow(arrow_schema, **flags):
    """The mapInArrow function for the given parse flags (the reference
    parse() kwargs, parser.py:56-68; docparse.parse_turn's keywords).
    ``arrow_schema`` is PARSED_DDL as Arrow — derive it on the driver with
    pyspark.sql.pandas.types.to_arrow_schema, executors have no session.
    Flags are bound here, on the driver, so a misspelled one raises
    TypeError before any task runs; they select code paths, never per-row
    state."""
    import pyarrow as pa

    inspect.signature(docparse.parse_turn).bind("", **flags)

    def kernel(batches):
        for batch in batches:
            cols = [batch.column(c).to_pylist() for c in _IN_COLS]
            recs = [
                r for r in (_turn_record(*row, flags) for row in zip(*cols))
                if r is not None
            ]
            yield pa.RecordBatch.from_pylist(recs, schema=arrow_schema)

    return kernel
