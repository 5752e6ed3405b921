"""Self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. Each workload runs at a tiny size, untraced and traced: the result line
   has exactly the contract's keys, every metric BENCHMARK.json names
   prints with its unit, the check passes and end-to-end values are > 0.
2. Fault injection: after one job, the output check reports nothing on the
   real output and at least one failed input for each injected fault (an
   output row dropped or altered).
3. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SIZES = {"bulk_pdf": 12, "corpus_prep": 40}
SEED = 3


def _run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", str(SIZES[workload])],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result_lines() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in SIZES:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            p = _run_bench(ROOT, workload, trace)
            assert p.returncode == 0, (workload, trace, p.stderr[-2000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            assert units == {m["name"]: m["unit"] for m in spec[section]}, units
            values = [v["value"] for v in res["metrics"].values()]
            assert all(isinstance(v, (int, float)) for v in values), res
            if trace == 0:
                assert all(v > 0 for v in values), res
            print(f"ok  {workload} --trace {trace}: {len(values)} metrics")


def _rewrite(path: str, edit) -> None:
    """Replace the parquet table at ``path`` by ``edit(rows)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    rows = edit(table.to_pylist())
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                   os.path.join(path, "part-0.parquet"))


def _drop_first(rows):
    return rows[1:]


def _alter(field, fn):
    return lambda rows: [dict(rows[0], **{field: fn(rows[0][field])})] + rows[1:]


FAULTS = {
    "bulk_pdf": [
        ("turns", "drop a turn", _drop_first),
        ("turns", "alter a turn's text", _alter("extracted_text", lambda t: t + "x")),
        ("blocks", "alter a block's bbox", _alter("bbox", lambda b: [v + 1 for v in b])),
    ],
    "corpus_prep": [
        ("survivors", "drop a survivor", _drop_first),
        ("survivors", "alter a token count", _alter("n_tokens", lambda n: n + 1)),
        ("packed", "drop an id from a pack", _alter("ids", lambda ids: ids[1:])),
    ],
}


def check_fault_injection() -> None:
    sys.path.insert(0, ROOT)
    from perfbench.run import Bench, shutdown_gateway
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        for name, faults in FAULTS.items():
            wl = WORKLOADS[name](os.path.join(state, "cache"), SEED, SIZES[name])
            bench = Bench(wl, work)
            bench.start()
            good = os.path.join(work, f"{name}-out")
            wl.run(bench.spark, wl.corpus.path, good, Tracer(None))
            assert not wl.faults(good), name
            for table, what, edit in faults:
                bad = os.path.join(work, f"{name}-bad")
                shutil.rmtree(bad, ignore_errors=True)
                shutil.copytree(good, bad)
                _rewrite(os.path.join(bad, table), edit)
                n = len(wl.faults(bad))
                assert n > 0, (name, what)
                print(f"ok  {name}: {what} -> failed={n} of {wl.corpus.rows}")
            bench.stop()
    finally:
        shutdown_gateway()
        shutil.rmtree(work, ignore_errors=True)


def check_without_package() -> None:
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run_bench(bare, "bulk_pdf", 0)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
        print(f"ok  without the package: exit {p.returncode}, no result line")
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    check_without_package()
    check_fault_injection()
    check_result_lines()
    print("selftest passed")
