"""The benchmark's own tests: a tiny run of each workload, traced and
not, the span accounting of the traced batch run, and that a corrupted
output or a program that raises is counted as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

# import every workload before any test patches the program: some
# modules bind the program's functions when they are imported
from perfbench import batch_kg, ner_kernel, stream_kg  # noqa: F401
from perfbench.common import prepare_env
from perfbench.run import _spec, headline, run_workload


@pytest.fixture(scope="module", autouse=True)
def _env():
    prepare_env()


def _healthy(res):
    assert res.attempted >= 1
    assert res.failed == 0, res.errors
    assert all(v > 0 for v in res.end_to_end().values())


def test_inputs_keep_the_transcripts_schema_without_tool_turns(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import inputs

    pdf = inputs.make_turns(inputs.conv_base(408), 10)
    assert pdf["tool"].isna().all()  # this seed's first conversations use no tool
    path = inputs.write_parquet(pdf, str(tmp_path / "t.parquet"))
    assert pq.read_schema(path).field("tool").type == pa.string()


def test_ner_kernel_smoke():
    _healthy(run_workload("ner_kernel", seed=3, seconds=0.2, trace=False, scale=0.01))


def test_ner_kernel_traced_counts_sublayers():
    res = run_workload("ner_kernel", seed=3, seconds=0.2, trace=True, scale=0.01)
    assert res.failed == 0, res.errors
    for name in ("kernels.classifier.s", "kernels.triples.s", "operators.annotate.arrow.s",
                 "kernels.tokens", "kernels.entities.model"):
        assert res.layers[name] > 0, name
    assert 0 <= res.layers["kernels.rules.regex.hit_ratio"] <= 1


def test_corrupted_output_counts_as_failed(monkeypatch):
    from transner_spark.kernels import triples

    real = triples.extract_triples_turn

    def drop_last(*args, **kwargs):
        return real(*args, **kwargs)[:-1]

    # the annotate function looks the name up when it runs
    monkeypatch.setattr(triples, "extract_triples_turn", drop_last)
    res = run_workload("ner_kernel", seed=3, seconds=0.2, trace=False, scale=0.01)
    assert res.attempted >= 1
    assert res.failed == res.attempted


def test_program_that_raises_still_prints_a_headline(monkeypatch):
    from transner_spark.kernels import ner_pipeline

    def broken(*args, **kwargs):
        raise RuntimeError("kernel failure")

    monkeypatch.setattr(ner_pipeline, "ner_batch", broken)
    res = run_workload("ner_kernel", seed=3, seconds=0.2, trace=False, scale=0.01)
    line = headline(res, _spec(), trace=False)
    assert line["correct"] is False
    assert line["attempted"] >= 1 and line["failed"] == line["attempted"]
    assert set(line["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}


def test_run_that_raises_in_setup_is_one_failed_attempt(monkeypatch):
    def broken(*args, **kwargs):
        raise RuntimeError("set-up failure")

    monkeypatch.setattr(ner_kernel, "_setup_s", broken)
    res = run_workload("ner_kernel", seed=3, seconds=0.2, trace=False, scale=0.01)
    line = headline(res, _spec(), trace=False)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 1, 1)


def test_batch_kg_traced_spans_add_up_to_wall():
    from transner_spark.plans.pipeline import STAGES

    res = run_workload("batch_kg", seed=5, seconds=0.2, trace=True, scale=0.02)
    _healthy(res)
    assert res.attempted == 2  # one untraced and one traced job
    layers = res.layers
    parts = [layers[f"plans.pipeline.{s}.s"] for s in STAGES] + [
        layers["plans.pipeline.lineage.s"],
        layers["plans.pipeline.read.s"],
    ]
    assert all(p > 0 for p in parts)
    # spans that overlapped or were counted twice would leave less than
    # nothing unattributed
    assert layers["plans.pipeline.unattributed_s"] >= 0
    assert sum(parts) + layers["plans.pipeline.unattributed_s"] == pytest.approx(
        layers["plans.pipeline.wall_s"], abs=1e-9
    )
    # the traced wall is the traced job's measured time, less only the
    # construction of the PipelineRun around it
    wall, job = layers["plans.pipeline.wall_s"], res.op_s[1]
    assert 0 <= job - wall < 0.5
    assert layers["annotated.rows_out"] > 0
    assert layers["annotated.executor_cpu_s"] > 0


def test_stream_kg_traced_smoke():
    res = run_workload("stream_kg", seed=7, seconds=0.2, trace=True, scale=0.05)
    _healthy(res)
    assert res.attempted == 2  # one untraced and one traced round
    layers = res.layers
    for m in ("annotate", "linking", "materialize", "logstate"):
        assert layers[f"stream.{m}.s"] > 0, m
    assert layers["stream.compactions"] == 1  # every round appends, then compacts
    assert layers["stream.write_amp"] > 1


def test_reap_children_waits_for_orphaned_descendants():
    import subprocess
    import sys

    from perfbench.common import ROOT

    # in a process of its own: the reaper setting stays with the process
    script = (
        "import subprocess, time\n"
        "from perfbench.common import adopt_orphans, reap_children\n"
        "adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 1 &'], check=True)\n"
        "t0 = time.perf_counter()\n"
        "print(len(reap_children()), time.perf_counter() - t0)\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, check=True).stdout.split()
    assert int(out[0]) == 1  # the orphaned ``sleep`` was adopted and waited for
    assert float(out[1]) > 0.5


def test_reap_children_kills_a_child_past_its_grace():
    import subprocess
    import sys

    from perfbench.common import ROOT

    script = (
        "import subprocess, time\n"
        "from perfbench.common import adopt_orphans, reap_children\n"
        "adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True)\n"
        "t0 = time.perf_counter()\n"
        "print(len(reap_children(grace=0.5)), time.perf_counter() - t0)\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, check=True, timeout=30).stdout.split()
    assert int(out[0]) == 1
    assert float(out[1]) < 10
