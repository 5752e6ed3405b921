"""TranscriptExtractor facade: the reference's call shapes work unchanged."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metadatadocumentparser_spark import synth
from metadatadocumentparser_spark.kernels import make_parse_kernel_arrow
from metadatadocumentparser_spark.parser_api import TranscriptExtractor
from metadatadocumentparser_spark.plans import extract_all
from metadatadocumentparser_spark.sinks import canonical_struct, export_json

# one block that passes the formula stage in normal mode but not in strict
# mode (no strong indicator, symbol density < 0.3 → strict zeroes the score)
LOOSE_ONLY_FORMULA = (
    "%%PAGE 612 792\n%%BLK 54 100 284 114\n%%LN 54 100 284 112 1 0\n"
    "%%SP 11 Helv|x_1 + y_2 and some words here"
)


def test_facade_parse_and_export(spark, tmp_path):
    df = spark.createDataFrame(synth.synth_local(8, 4), schema=synth.TRANSCRIPT_DDL)
    p = TranscriptExtractor(df, footer_margin=50, header_margin=50,
                            fast_column_detection=True)

    # default parse: formulas gated off like the reference default
    outs = p.parse()
    assert outs["formulas"].count() == 0
    assert outs["blocks"].count() > 0

    outs = p.parse(extract_formulas=True, strict_mode=False)
    assert outs["formulas"].count() > 0

    toon = p.export(outs, format="toon").first().toon
    assert "metadata:" in toon
    j = json.loads(p.export(outs, format="json").first().json)
    assert "metadata" in j

    cmp = p.compare_extraction_methods()
    assert set(cmp["text_extraction"]) == {"pymupdf", "pdfplumber"}

    n = p.save_images(outs, str(tmp_path / "imgs"))
    assert n == outs["images"].count()

    viz = p.visualize_columns(n_turns=2)
    assert len(viz) == 2

    d = {"metadata": {"title": "t"}, "text_blocks": []}
    r = p.compare_export_formats(d)
    assert "best_format" in r


def test_sql_views_surface(spark):
    """register_extraction_views makes every output table spark.sql()-able
    and the SQL results equal the DataFrame results."""
    from metadatadocumentparser_spark.plans import extract_all, register_extraction_views
    from metadatadocumentparser_spark.synth import synth_df

    outs = extract_all(synth_df(spark, n_convs=6))
    names = register_extraction_views(outs, prefix="x_")
    assert set(names) == {f"x_{k}" for k in outs}
    sql_counts = {
        r.layout: r.cnt
        for r in spark.sql(
            "SELECT coalesce(column_layout, 'none') AS layout, count(*) AS cnt "
            "FROM x_turns GROUP BY 1"
        ).collect()
    }
    from pyspark.sql import functions as F

    df_counts = {
        r.layout: r.cnt
        for r in outs["turns"]
        .groupBy(F.coalesce("column_layout", F.lit("none")).alias("layout"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert sql_counts == df_counts and sql_counts


def _docs(doc_struct) -> dict:
    return {(r.conv_id, r.turn_idx): r.json for r in export_json(doc_struct).collect()}


def test_export_serializes_the_tables_it_is_handed(spark):
    """export()/export_to_dict() serialize the outs dict they are given: a
    result from an earlier parse() keeps that parse's flags, and caller
    edits to the returned tables show up in the export."""
    df = spark.createDataFrame(
        synth.synth_local(4, 2)
        + [dict(conv_id="conv-strict", turn_idx=0, role="assistant",
                text=LOOSE_ONLY_FORMULA, tool=None, ts=None)],
        schema=synth.TRANSCRIPT_DDL,
    )
    p = TranscriptExtractor(df)
    strict = p.parse(extract_formulas=True, strict_mode=True)
    loose = p.parse(extract_formulas=True, strict_mode=False)
    # the two modes must export differently, or the first check proves nothing
    assert _docs(canonical_struct(strict)) != _docs(canonical_struct(loose))
    assert _docs(p.export_to_dict(strict)) == _docs(canonical_struct(strict))

    unedited = _docs(p.export_to_dict(loose))
    assert unedited == _docs(canonical_struct(loose))
    loose["blocks"] = loose["blocks"].where(F.col("block_idx") > 0)
    edited = _docs(p.export_to_dict(loose))
    assert edited == _docs(canonical_struct(loose))
    assert edited != unedited


def test_unknown_parse_flag_raises_on_driver(spark):
    """A misspelled parse flag is a TypeError while the plan is built on
    the driver — never an executor failure after a Spark job started."""
    df = spark.createDataFrame(synth.synth_local(2, 2), schema=synth.TRANSCRIPT_DDL)
    sc = spark.sparkContext
    group = "unknown-parse-flag"
    sc.setJobGroup(group, "no job may run for a misspelled flag")
    try:
        with pytest.raises(TypeError, match="text_methd"):
            extract_all(df, text_methd="x")
        with pytest.raises(TypeError, match="text_methd"):
            make_parse_kernel_arrow(None, text_methd="x")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        df.count()  # the group does record jobs, so the check above can fail
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
