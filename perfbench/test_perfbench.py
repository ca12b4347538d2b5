"""Small-size self-check of the benchmark.

    python3 -m pytest perfbench -q

Runs every workload on ~sf0.001 inputs (scale 0.01) in one shared Spark
session: the warm-up and two traced passes must pass their correctness
checks, emit every per-layer metric with its unit, and repeat their
exact counts.  Subprocess runs check the command's output contract.
With ``SPARK_GRAFT_SF_DIR`` naming a fixture directory (``.../sf<N>``,
as for ``bench.py``), the generated inputs are compared with it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, fresh_dir  # noqa: E402

SCALE = 0.01

# Counts that must repeat exactly across two passes of one seed.
EXACT = ("spark.jobs", "spark.stages", "manifest.versions",
         "manifest.replay_noop_ratio", "manifest.files_added", "keyed.bytes_written")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_what_run_emits():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT  # the executors import perfbench.xform
    from pypeline_spark.session import get_spark

    session = get_spark("perfbench-selfcheck", cpus=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


# The layer each workload exists to load must read non-zero.
OWN_LAYER = {
    "etl_keyed": ("keyed.put_s", "transformers.rows", "runner.jobs_per_step"),
    "lakehouse_ingest": ("manifest.merge_s", "manifest.delete_s", "manifest.jobs_per_commit"),
    "query_headline": ("query.q_topk.exec_s", "query.q_corpus_pipeline.jobs"),
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_passes_are_correct_and_repeat(spark, tmp_path, name):
    work = str(tmp_path)
    wl = WORKLOADS[name](work, seed=3, scale=SCALE)
    wl.generate()
    wl.register(spark)
    warm = fresh_dir(os.path.join(work, "warm"))
    wl.warm_up(spark, warm)
    assert wl.check(spark, warm) == []

    tracer = Tracer(spark, f"selfcheck-{name}")
    per_pass = []
    for i in range(2):
        rec, problems = run.run_pass(wl, spark, work, i, tracer)
        assert problems == []
        per_pass.append(run.pass_layer_metrics(tracer, rec))
    first, second = per_pass
    for key in EXACT:
        assert first.get(key) == second.get(key), key

    extra = {"session.get_spark_s": 1.0, "session.register_s": 1.0, "trace.overhead_s": 0.0}
    units = run.per_layer_units()
    metrics = run.layer_metrics(per_pass, units, extra)
    assert {k: v["unit"] for k, v in metrics.items()} == units
    for key in OWN_LAYER[name]:
        assert metrics[key]["value"] > 0, key
    if name == "lakehouse_ingest":
        assert first["manifest.versions"] == 1 + 2 * wl.BATCHES
        assert first["manifest.replay_noop_ratio"] == 1.0
    if name == "etl_keyed":
        assert first["transformers.python_passes"] == 1


def _command(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# The traced etl_keyed run also runs the query phase (run.run_query_phase).
@pytest.mark.parametrize("workload,trace", [("lakehouse_ingest", "0"), ("etl_keyed", "1")])
def test_command_prints_every_metric(workload, trace):
    out = _command("--workload", workload, "--seed", "5", "--seconds", "1",
                   "--trace", trace, "--scale", str(SCALE))
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_units() if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    context = json.loads(out.stdout.strip().splitlines()[-2])["context"]
    assert context["nproc"] >= 1 and context["input_rows"] > 0
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["query.jobs"]["value"] > 0
        assert context["query_phase_inputs"]
        span_file = os.path.join(ROOT, context["span_file"])
        with open(span_file) as fh:
            assert json.load(fh)["spans"]
        os.remove(span_file)


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    out = _command("--workload", "lakehouse_ingest", "--seed", "1", "--seconds", "1",
                   "--trace", "0", cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout == ""


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR")


@pytest.mark.skipif(not SF_DIR, reason="SPARK_GRAFT_SF_DIR names no fixture directory")
def test_generated_inputs_match_the_fixtures(tmp_path):
    """Same tables, types and row counts as the fixtures; the same value
    set for every column with at most 30 values; numeric 5th and 95th
    percentiles and means within 5% of the fixture's range between
    those percentiles; the same number of near-duplicate documents."""
    scale = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) / 0.1
    made = gen.write_fixtures(str(tmp_path), seed=42, scale=scale)
    for name in made:
        want = pq.read_table(os.path.join(SF_DIR, f"{name}.parquet"))
        got = pq.read_table(os.path.join(tmp_path, f"{name}.parquet"))
        assert got.schema.remove_metadata() == want.schema.remove_metadata(), name
        assert got.num_rows == want.num_rows, name
        for col in want.column_names:
            w, g = want[col], got[col]
            if pa.types.is_nested(w.type):
                continue  # the embeddings: the schema check covers them
            if pc.count_distinct(w).as_py() <= 30:
                assert set(pc.unique(g).to_pylist()) == set(pc.unique(w).to_pylist()), col
            elif pa.types.is_integer(w.type) or pa.types.is_floating(w.type):
                want_q = pc.quantile(w, q=[0.05, 0.95]).to_pylist()
                got_q = pc.quantile(g, q=[0.05, 0.95]).to_pylist()
                tol = 0.05 * (want_q[1] - want_q[0]) + 1e-9
                for a, b in zip(got_q + [pc.mean(g).as_py()], want_q + [pc.mean(w).as_py()]):
                    assert abs(a - b) <= tol, col
    dups = [pc.sum(pc.ends_with(pq.read_table(os.path.join(d, "documents.parquet"))["text"],
                                " dup")).as_py() for d in (SF_DIR, str(tmp_path))]
    assert dups[0] == dups[1]
