"""In-process, single-threaded timings of the Python layers under the parse
kernel, taken on the check sample in the traced run. Each layer is called
through its public function, a whole pass over the sample at a time; the
median of three passes is reported per turn. The garbage collector is off
while a pass runs (as in ``timeit``): the sample's parsed objects stay
alive between passes, and collections over them would be charged to
whichever layer happened to trigger them."""

from __future__ import annotations

import gc
import statistics
import time

REPEATS = 3


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        gc.collect()
        gc.disable()
        try:
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        finally:
            gc.enable()
    return statistics.median(times)


def parse_layers(rows: list) -> dict:
    """payload / docparse (self time, geometry excluded) / geometry /
    kernels (the arrow kernel end to end, and its encode share: kernel time
    minus the parse and HTML-segment time it contains) / oracle, all per
    sample turn."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from metadatadocumentparser_spark import docparse, geometry, htmlseg, oracle
    from metadatadocumentparser_spark.kernels import PARSED_DDL, make_parse_kernel_arrow
    from metadatadocumentparser_spark.payload import parse_payload

    from .corpora import TRANSCRIPT_SCHEMA

    n = len(rows)
    texts = [r["text"] or "" for r in rows]
    docs = [parse_payload(t) for t in texts]
    sizes = [len(t.encode("utf-8")) for t in texts]
    parsed = [docparse.parse_doc(d, s) for d, s in zip(docs, sizes)]
    pages = [p for d in docs for p in d.pages]
    htmls = [(p["html"], p["html_start"]) for p in parsed if p["html"] is not None]

    payload_s = _median_s(lambda: [parse_payload(t) for t in texts])
    docparse_s = _median_s(lambda: [docparse.parse_doc(d, s) for d, s in zip(docs, sizes)])
    geometry_s = _median_s(lambda: [geometry.column_boxes(p) for p in pages])
    htmlseg_s = _median_s(lambda: [htmlseg.segment_html(h, s) for h, s in htmls])

    batches = [
        pa.RecordBatch.from_pylist(rows[i : i + 512], schema=TRANSCRIPT_SCHEMA)
        for i in range(0, n, 512)
    ]
    # the schema is derived as parse_transcripts derives it (needs a session)
    kernel = make_parse_kernel_arrow(to_arrow_schema(StructType.fromDDL(PARSED_DDL)))
    out_batches = list(kernel(iter(batches)))
    kernel_s = _median_s(lambda: list(kernel(iter(batches))))
    oracle_s = _median_s(
        lambda: [oracle.oracle_turn(r["conv_id"], r["turn_idx"], r["text"]) for r in rows]
    )
    us = 1e6 / n
    return {
        "payload.us_per_turn": payload_s * us,
        "docparse.us_per_turn": max(docparse_s - geometry_s, 0.0) * us,
        "geometry.us_per_turn": geometry_s * us,
        "kernels.us_per_turn": kernel_s * us,
        "kernels.encode_us_per_turn": max(
            kernel_s - payload_s - docparse_s - htmlseg_s, 0.0
        ) * us,
        "kernels.arrow_bytes_per_turn": sum(b.nbytes for b in out_batches) / n,
        "baseline.oracle_rows_per_s": n / oracle_s,
    }


def html_layers(rows: list, docs: list) -> dict:
    """htmlseg and the Python TOON encoder, per HTML turn. ``docs`` are the
    export documents (sinks.export's K1 struct, as dicts) of ``rows``."""
    from metadatadocumentparser_spark import docparse, htmlseg
    from metadatadocumentparser_spark.sinks.export import toon_encode

    parsed = [docparse.parse_turn(r["text"]) for r in rows]
    htmlseg_s = _median_s(
        lambda: [htmlseg.segment_html(p["html"], p["html_start"]) for p in parsed]
    )
    toon_s = _median_s(lambda: [toon_encode(d) for d in docs])
    return {
        "htmlseg.us_per_turn": htmlseg_s * 1e6 / len(rows),
        "export.toon_us_per_turn": toon_s * 1e6 / len(docs),
        "export.toon_bytes_per_turn": sum(len(toon_encode(d).encode()) for d in docs) / len(docs),
    }
