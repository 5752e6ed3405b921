"""The benchmark workloads. Each one is a batch job run the way its entry
point runs it (``jobs/extract.py --no-lineage``, ``jobs/corpus_prep.py``),
an output check, and the per-layer metrics its traced run reports.

bulk_pdf's traced run also probes the two layers its job does not reach:
the lineage/resume path (``run_with_lineage`` killed after half the
buckets, then resumed, over the same input) and the HTML layers
(``htmlseg`` and the TOON encoder, on a seeded sample of HTML turns)."""

from __future__ import annotations

import json
import random
import statistics
import time

from pyspark.sql import functions as F

from . import check, corpora, layers

PDF_TABLES = ("turns", "blocks", "formulas", "images", "tables", "meta", "segments")
N_BUCKETS = 4  # lineage probe: killed after 2, resumed for 2
HTML_SAMPLE = 200  # HTML turns in the bulk_pdf traced run's HTML probe
SAMPLE_HOT, SAMPLE_REST = 60, 340  # check-sample turns from the hot / other conversations


class Workload:
    name = ""
    # default corpus size; --size overrides it (the self-test runs tiny sizes)
    size = 0
    # jobs per run at least; set so that they outlast --seconds and every
    # run's job_s sits at the same point of the JIT's warm-up
    min_jobs = 3

    def __init__(self, cache: str, seed: int, size: int | None):
        self.seed = seed
        self.size = size or self.size
        self.corpus = self.build(cache)

    def build(self, cache: str) -> corpora.Corpus:
        raise NotImplementedError

    def run(self, spark, inp: str, out: str, tr):
        """The timed job: input at ``inp`` to all outputs committed under ``out``."""
        raise NotImplementedError

    def faults(self, out: str) -> set:
        """Input keys whose output is missing or wrong (after the timed region)."""
        raise NotImplementedError

    def layer_metrics(self, spark, out: str, tr) -> dict:
        """Per-layer metrics of the traced job whose outputs are in ``out``."""
        raise NotImplementedError


class BulkPdf(Workload):
    """jobs/extract.py --no-lineage over PDF-layout turns."""

    name = "bulk_pdf"
    size = 500  # conversations
    min_jobs = 6  # ~4 s jobs: job_s is the median of jobs 4-6

    def build(self, cache):
        return corpora.transcripts(cache, self.seed, self.size)

    def run(self, spark, inp, out, tr):
        from metadatadocumentparser_spark.plans import extract_all_materialized

        df = spark.read.parquet(inp)
        with tr.span("pipeline.parse"):
            outs = extract_all_materialized(df, f"{out}/_parsed")
        for name in PDF_TABLES:
            with tr.span(f"pipeline.{name}"):
                outs[name].write.mode("overwrite").parquet(f"{out}/{name}")

    def faults(self, out):
        """Every input turn appears once in ``turns``, and its turns, blocks,
        formulas and segments rows equal ``oracle.oracle_turn``'s."""
        inputs = check.read_rows(self.corpus.path)
        got = {t: check.read_rows(f"{out}/{t}") for t in ("turns", *check.TABLE_FIELDS)}
        return check.key_faults(map(check.key, inputs), got["turns"]) | check.oracle_faults(
            inputs, got
        )

    def sample(self) -> list:
        """Seeded check sample of input turns, the hot conversation included."""
        rows = check.read_rows(self.corpus.path)
        hot_id = f"conv-{self.seed * corpora.CONV_STRIDE:06d}"
        hot = [r for r in rows if r["conv_id"] == hot_id]
        rest = [r for r in rows if r["conv_id"] != hot_id]
        rng = random.Random(f"perfbench-sample:{self.name}:{self.seed}")
        picked = rng.sample(hot, min(SAMPLE_HOT, len(hot)))
        picked += rng.sample(rest, min(SAMPLE_REST, len(rest)))
        return sorted(picked, key=check.key)

    def layer_metrics(self, spark, out, tr):
        groups = {g: tr.group_metrics(g) for g in
                  ("pipeline.parse", *(f"pipeline.{t}" for t in PDF_TABLES))}
        parse = groups["pipeline.parse"]
        blocks = corpora.parquet_rows(f"{out}/blocks")
        m = {
            "pipeline.parse_s": tr.seconds("pipeline.parse"),
            "pipeline.turns_s": tr.seconds("pipeline.turns"),
            "pipeline.blocks_s": tr.seconds("pipeline.blocks"),
            "pipeline.formulas_s": tr.seconds("pipeline.formulas"),
            "pipeline.segments_s": tr.seconds("pipeline.segments"),
            "pipeline.meta_s": tr.seconds("pipeline.meta"),
            "pipeline.images_tables_s": tr.seconds("pipeline.images")
            + tr.seconds("pipeline.tables"),
            "pipeline.parse.task_skew": parse["task_skew"],
            "pipeline.parse.gc_s": parse["gc_s"],
            "pipeline.shuffle_write_bytes": sum(
                g["shuffle_write_bytes"] for g in groups.values()
            ),
            "pipeline.staging_bytes": corpora.dir_bytes(f"{out}/_parsed"),
            "pipeline.formula_pass_frac": (
                corpora.parquet_rows(f"{out}/formulas") / blocks if blocks else 0.0
            ),
        }
        m.update(layers.parse_layers(self.sample()))
        m.update(html_probe(spark, self.seed))
        m.update(lineage_probe(spark, self.corpus.path, out, tr))
        return m


def html_probe(spark, seed: int) -> dict:
    """htmlseg and the TOON encoder in process, and the engine's content
    fraction, on HTML turns of conversations the bulk corpus does not use.
    The TOON encoder is timed on the engine's own export documents."""
    from metadatadocumentparser_spark import synth
    from metadatadocumentparser_spark.plans import extract_all
    from metadatadocumentparser_spark.sinks.export import canonical_struct, export_json

    rows = corpora.html_sample(seed, HTML_SAMPLE)
    outs = extract_all(spark.createDataFrame(rows, schema=synth.TRANSCRIPT_DDL))
    docs = [json.loads(r["json"]) for r in export_json(canonical_struct(outs)).collect()]
    content = outs["segments"].agg(F.avg(F.col("is_content").cast("double"))).collect()[0][0]
    return {**layers.html_layers(rows, docs), "pipeline.content_frac": content}


def lineage_probe(spark, inp: str, out: str, tr) -> dict:
    """jobs/extract.py's default lineage path over the job's input, killed
    after half the buckets and resumed. Raises unless the resumed output
    equals the batch job's turns table in ``out`` and no bucket was
    committed twice."""
    from metadatadocumentparser_spark.plans.lineage import (
        committed_buckets,
        input_snapshot_id,
        run_with_lineage,
    )

    lout = f"{out}/_lineage_probe"
    with tr.span("lineage.run"):
        run_with_lineage(spark, inp, lout, n_buckets=N_BUCKETS, max_buckets=N_BUCKETS // 2)
    resume_wall = time.time()
    with tr.span("lineage.resume"):
        report = run_with_lineage(spark, inp, lout, n_buckets=N_BUCKETS)
    with tr.span("lineage.snapshot"):
        snap = input_snapshot_id(spark, inp)
    with tr.span("lineage.committed_lookup"):
        committed_buckets(spark, lout, snap)
    lineage = check.read_rows(f"{lout}/_lineage", columns=["bucket", "committed_at"])
    recomputed = len(lineage) - len({r["bucket"] for r in lineage})
    resumed = check.turn_digests(check.read_rows(f"{lout}/turns"))
    if (not report["complete"] or len(report["skipped"]) != N_BUCKETS // 2 or recomputed
            or resumed != check.turn_digests(check.read_rows(f"{out}/turns"))):
        raise RuntimeError(f"resumed lineage output differs from the batch job: {report}")
    # gaps between consecutive commits inside each of the two runs
    at = sorted(r["committed_at"] for r in lineage)
    runs = [[t for t in at if t < resume_wall], [t for t in at if t >= resume_wall]]
    gaps = [b - a for run in runs for a, b in zip(run, run[1:])]
    jobs = tr.group_metrics("lineage.run")["jobs"] + tr.group_metrics("lineage.resume")["jobs"]
    return {
        "lineage.resume_s": tr.seconds("lineage.resume"),
        "lineage.bucket_s": statistics.median(gaps),
        "lineage.jobs_per_bucket": jobs / N_BUCKETS,
        "lineage.buckets_recomputed": recomputed,
        "lineage.snapshot_s": tr.seconds("lineage.snapshot"),
        "lineage.committed_lookup_s": tr.seconds("lineage.committed_lookup"),
    }


class CorpusPrep(Workload):
    """jobs/corpus_prep.py with its default settings over seeded documents."""

    name = "corpus_prep"
    size = 8000  # base documents (x REPLICAS)
    min_jobs = 3  # ~15 s jobs: job_s is the median of jobs 2-3
    REPLICAS = 3

    def build(self, cache):
        return corpora.documents(cache, self.seed, self.size, self.REPLICAS)

    def run(self, spark, inp, out, tr):
        from metadatadocumentparser_spark.plans import corpus_prep

        docs = spark.read.parquet(inp)
        bench = spark.read.parquet(self.corpus.extra["eval"])
        with tr.span("corpus_prep.stage1"):
            outs = corpus_prep(docs, bench)
        for key, name in (("docs", "survivors"), ("packed", "packed"), ("stats", "stats")):
            with tr.span(f"corpus_prep.{name}"):
                outs[key].write.mode("overwrite").parquet(f"{out}/{name}")
        self.last_outputs = outs

    def faults(self, out):
        return check.corpus_prep_faults(
            self.corpus.rows,
            check.read_rows(f"{out}/survivors"),
            check.read_rows(f"{out}/packed"),
            check.read_rows(f"{out}/stats")[0],
        )

    def layer_metrics(self, spark, out, tr):
        from metadatadocumentparser_spark.plans import file_scan_count

        names = ("stage1", "survivors", "packed", "stats")
        groups = {f"corpus_prep.{n}": tr.group_metrics(f"corpus_prep.{n}") for n in names}
        stats = check.read_rows(f"{out}/stats")[0]
        m = {f"corpus_prep.{n}_s": tr.seconds(f"corpus_prep.{n}") for n in names}
        m.update({
            "corpus_prep.file_scans": sum(
                file_scan_count(df) for df in self.last_outputs.values()
            ),
            "corpus_prep.shuffle_write_bytes": sum(
                g["shuffle_write_bytes"] for g in groups.values()
            ),
            "corpus_prep.survivor_frac": stats["n_final"] / stats["n_input"],
        })
        return m


WORKLOADS = {w.name: w for w in (BulkPdf, CorpusPrep)}
