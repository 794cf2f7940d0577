"""Workload ``ner_kernel``: the NER kernel alone, with no Spark.

Each unit of work is one 4,096-row batch through the annotate
operator's own ``mapInPandas`` function (``ner_batch``, then
``extract_triples_turn`` per turn), then the pandas→Arrow conversion to
``ANNOTATED_SCHEMA`` that Spark does on the function's output. One
kernel process runs per core, as Spark's Python workers do at
``local[nproc]``; each is a closed loop over whole batches. Inside Spark
the kernel's sub-layers cannot be seen from the Spark driver; here the
traced run times each of them.

One process per core is also what makes the figures steady on a host
whose cores change speed independently: one core's batch times spread by
~30% from run to run, the mean over four by about half that.

The reference outputs are computed in a child process, which sends back
only one fingerprint per batch, so the measured processes hold the
kernel, its input batches and nothing of the reference.

    python3 -m perfbench.ner_kernel --reference SEED SCALE WORKDIR
"""

from __future__ import annotations

import contextlib
import json
import math
import multiprocessing
import statistics
import subprocess
import sys
import time
from collections import Counter

import pandas as pd
import pyarrow as pa

from perfbench import inputs
from perfbench.common import ROOT, Outcome, RssSampler, Window, host_cores
from perfbench.tracing import Tracer, patched
from transner_spark.config import PipelineConfig
from transner_spark.kernels import ner_pipeline, triples
from transner_spark.operators.annotate import ANNOTATED_SCHEMA, _make_annotate_fn

BATCH_ROWS = 4096
N_BATCHES = 2
SETUP_REPEATS = 7


def _batches(seed: int, scale: float, cfg: PipelineConfig) -> list[pd.DataFrame]:
    """The seed's kept turns, cut into the run's batches."""
    n_batches = max(1, int(round(N_BATCHES * scale)))
    rows = BATCH_ROWS if scale >= 1 else max(16, int(BATCH_ROWS * scale))
    # ~4% of generated turns fail the length guard; generate with slack
    n_convs = math.ceil(n_batches * rows / (0.9 * inputs.TURNS_PER_CONV))
    corpus = inputs.make_turns(inputs.conv_base(seed), n_convs)
    kept = inputs.kept_turns(corpus, cfg).head(n_batches * rows).reset_index(drop=True)
    return [kept.iloc[i * rows:(i + 1) * rows] for i in range(n_batches)]


def _reference(seed: int, scale: float, workdir: str) -> dict:
    """Per batch: fingerprints of the reference's mentions and triples;
    plus the reference's own SQL spot check."""
    from transner_spark.kernels.oracle import run_oracle_pipeline

    cfg = PipelineConfig()
    batches = _batches(seed, scale, cfg)
    kept = pd.concat(batches, ignore_index=True)
    ref = run_oracle_pipeline(kept, cfg)
    batch_of = {
        key: i
        for i, b in enumerate(batches)
        for key in zip(b["conv_id"], b["turn_idx"].astype("int64").tolist())
    }
    want = [(Counter(), Counter()) for _ in batches]
    for slot, (name, cols) in enumerate((("mentions", inputs.MENTION_COLS),
                                         ("triples", inputs.TRIPLE_COLS))):
        for row, n in inputs.multiset(ref[name], cols).items():
            want[batch_of[row[:2]]][slot][row] = n
    return {
        "spot_ok": inputs.sql_spot_check(kept, ref["mentions"], workdir),
        "batches": [[inputs.digest(m), inputs.digest(t)] for m, t in want],
    }


def _child(args: list[str]) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-m", *args], cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )


def _last_line(proc: subprocess.Popen, timeout: float) -> str:
    out, _ = proc.communicate(timeout=timeout)
    if proc.returncode:
        raise RuntimeError(f"{proc.args} exited with {proc.returncode}")
    return out.strip().splitlines()[-1]


def _setup_s() -> float:
    """Median fresh-process set-up time of the kernel."""
    return statistics.median(
        float(_last_line(_child(["perfbench.kernel_setup"]), 120))
        for _ in range(SETUP_REPEATS)
    )


def _to_arrow(out: pd.DataFrame, schema: pa.Schema) -> pa.RecordBatch:
    """The conversion Spark applies to the function's output: session
    timestamps to UTC, then pandas→Arrow."""
    out["ts"] = out["ts"].dt.tz_localize("UTC")
    return pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)


def _read_back(rb: pa.RecordBatch) -> tuple[Counter, Counter]:
    """The output batch read back into Python rows, keyed as the
    reference is."""
    conv = rb.column("conv_id").to_pylist()
    turn = rb.column("turn_idx").to_pylist()
    ments, trips = Counter(), Counter()
    for c, t, ms, ts in zip(conv, turn, rb.column("mentions").to_pylist(),
                            rb.column("triples").to_pylist()):
        for m in ms:
            ments[(c, t) + tuple(m[k] for k in inputs.MENTION_COLS[2:])] += 1
        for x in ts:
            trips[(c, t) + tuple(x[k] for k in inputs.TRIPLE_COLS[2:])] += 1
    return ments, trips


def _layer_metrics(tracers: list, n_batches: int, counts: Counter) -> dict[str, float]:
    busy, selft = Counter(), Counter()
    for tracer in tracers:
        busy.update(tracer.busy())
        selft.update(tracer.self_time())
    per = {
        "kernels.preprocess.s": busy.get("kernels.preprocess", 0.0),
        "kernels.classifier.s": busy.get("kernels.classifier", 0.0),
        "kernels.decode.softmax.s": busy.get("kernels.decode.softmax", 0.0),
        "kernels.decode.bio.s": busy.get("kernels.decode.bio", 0.0),
        "kernels.preprocess.remap.s": busy.get("kernels.preprocess.remap", 0.0),
        "kernels.rules.regex.s": busy.get("kernels.rules.regex", 0.0),
        "kernels.rules.gazetteer.s": busy.get("kernels.rules.gazetteer", 0.0),
        "kernels.triples.s": busy.get("kernels.triples", 0.0),
        "operators.annotate.arrow.s": busy.get("operators.annotate.arrow", 0.0),
        "kernels.ner_batch.self_s": selft.get("kernels.ner_batch", 0.0),
        "kernels.tokens": counts["tokens"],
        "kernels.entities.model": counts["model"],
        "kernels.entities.regex": counts["regex"],
        "kernels.entities.gazetteer": counts["gazetteer"],
    }
    out = {k: v / n_batches for k, v in per.items()}
    out["kernels.rules.regex.hit_ratio"] = (
        counts["regex_hit_turns"] / counts["regex_turns"] if counts["regex_turns"] else 0.0
    )
    return out


def _instrument(tracer, counts: Counter):
    """Wrap the names the annotate function and ``kernels.ner_pipeline``
    look up when they run, so each call into a sub-layer is timed where
    the kernel makes it."""
    import types

    from transner_spark.kernels import preprocess, rules
    from transner_spark.kernels.classifier import default_classifier

    def proxy(module, **wraps):
        p = types.ModuleType(module.__name__)
        p.__dict__.update(vars(module))
        p.__dict__.update(wraps)
        return p

    find_regex = tracer.leaf("kernels.rules.regex", rules.find_from_regex)

    def regex_counted(sentence):
        found = find_regex(sentence)
        counts["regex_turns"] += 1
        counts["regex_hit_turns"] += bool(found)
        return found

    real = default_classifier()
    predict = tracer.leaf("kernels.classifier", real.predict)

    class TimedClassifier:
        def predict(self, sentences):
            preds, logits = predict(sentences)
            counts["tokens"] += sum(len(p) for p in preds)
            return preds, logits

        def __getattr__(self, name):
            return getattr(real, name)

    timed_clf = TimedClassifier()
    real_ner_batch = ner_pipeline.ner_batch

    def ner_batch(*args, **kwargs):
        with tracer.span("kernels.ner_batch"):
            results = real_ner_batch(*args, **kwargs)
        counts.update(e["source"] for r in results for e in r["entities"])
        return results

    stack = contextlib.ExitStack()
    stack.enter_context(patched(ner_pipeline, "preprocess", proxy(
        preprocess,
        preprocess_one=tracer.leaf("kernels.preprocess", preprocess.preprocess_one),
        adjust_entities_one=tracer.leaf("kernels.preprocess.remap", preprocess.adjust_entities_one),
    )))
    stack.enter_context(patched(ner_pipeline, "rules", proxy(
        rules,
        find_from_regex=regex_counted,
        find_religions=tracer.leaf("kernels.rules.gazetteer", rules.find_religions),
    )))
    stack.enter_context(patched(ner_pipeline, "softmax_max",
                                tracer.leaf("kernels.decode.softmax", ner_pipeline.softmax_max)))
    stack.enter_context(patched(ner_pipeline, "decode_bio",
                                tracer.leaf("kernels.decode.bio", ner_pipeline.decode_bio)))
    stack.enter_context(patched(ner_pipeline, "default_classifier", lambda: timed_clf))
    stack.enter_context(patched(ner_pipeline, "ner_batch", ner_batch))
    stack.enter_context(patched(triples, "extract_triples_turn",
                                tracer.leaf("kernels.triples", triples.extract_triples_turn)))
    return stack


def _worker(batches, first: int, seconds: float, trace: bool, start, results) -> None:
    """One kernel process: a closed loop over whole batches, starting at
    batch ``first``, for ``seconds`` after every process is ready."""
    out = {"op_s": [], "read_s": [], "turns": [], "triples": [], "digests": [],
           "traced": [], "errors": [], "tracer": None, "counts": Counter()}
    tracer, counts = Tracer(f"ner_kernel-{first}"), out["counts"]
    try:
        cfg = PipelineConfig()
        annotate = _make_annotate_fn(cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(ANNOTATED_SCHEMA)
        # load the classifier and lexicons before the window opens
        next(annotate(iter([batches[first].head(64)])))
    except Exception as exc:  # noqa: BLE001 - counted as a failed attempt
        out["errors"].append(f"kernel process {first}: {exc!r}")
    start.wait(timeout=120)
    window = Window(seconds, min_ops=2 if trace else 1)
    i = 0
    while not out["errors"] and window.open(i):
        k = (first + i) % len(batches)
        # a traced run alternates untraced and traced batches
        traced = trace and i % 2 == 1
        span = tracer.span if traced else (lambda name: contextlib.nullcontext())
        try:
            with _instrument(tracer, counts) if traced else contextlib.nullcontext():
                t0 = time.perf_counter()
                with span("operators.annotate"):
                    res = next(annotate(iter([batches[k]])))
                with span("operators.annotate.arrow"):
                    rb = _to_arrow(res, schema)
                dt = time.perf_counter() - t0
            t0 = time.perf_counter()
            got = _read_back(rb)
            out["read_s"].append(time.perf_counter() - t0)
            out["op_s"].append(dt)
            out["turns"].append(len(batches[k]))
            out["triples"].append(sum(got[1].values()))
            out["digests"].append((k, [inputs.digest(c) for c in got]))
            out["traced"].append(traced)
        except Exception as exc:  # noqa: BLE001 - counted as a failed attempt
            out["errors"].append(f"batch {k}: {exc!r}")
        i += 1
    if trace:
        out["tracer"] = tracer
    results.put(out)


def run(seed: int, seconds: float, trace: bool, workdir: str, scale: float = 1.0) -> Outcome:
    cfg = PipelineConfig()
    batches = _batches(seed, scale, cfg)
    # the reference runs on its own core while set-up is timed
    reference = _child(["perfbench.ner_kernel", "--reference", str(seed), str(scale), workdir])
    res = Outcome()
    try:
        res.setup_s = _setup_s()
        ref = json.loads(_last_line(reference, 170))
    finally:
        reference.kill()
        reference.wait()

    # forked before the memory sampler starts its thread
    ctx = multiprocessing.get_context("fork")
    n = host_cores()
    start, results = ctx.Barrier(n + 1), ctx.Queue()
    procs = [
        ctx.Process(target=_worker, args=(batches, w % len(batches), seconds, trace, start, results))
        for w in range(n)
    ]
    for p in procs:
        p.start()
    try:
        with RssSampler() as rss:
            start.wait(timeout=120)
            outs = [results.get(timeout=170) for _ in procs]
    finally:
        for p in procs:
            p.join(timeout=10)
            if p.is_alive():
                p.kill()
                p.join()
    res.peak_rss_mib = rss.peak

    traced_s, plain_s, tracers, counts = [], [], [], Counter()
    for out in outs:
        for dt, (k, got), traced in zip(out["op_s"], out["digests"], out["traced"]):
            bad = [] if ref["spot_ok"] else ["reference"]
            if got != ref["batches"][k]:
                bad.append("batch")
            res.attempt(not bad, f"batch {k}: {bad} differ from the reference")
            (traced_s if traced else plain_s).append(dt)
        for err in out["errors"]:
            res.attempt(False, err)
        res.op_s += out["op_s"]
        res.read_s += out["read_s"]
        res.op_turns += out["turns"]
        res.op_triples += out["triples"]
        if out["tracer"] is not None:
            tracers.append(out["tracer"])
            counts.update(out["counts"])
    if traced_s and plain_s:
        res.layers = _layer_metrics(tracers, len(traced_s), counts)
        res.layers["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain_s)
        res.tracers = tracers
    return res


if __name__ == "__main__":
    if sys.argv[1:2] != ["--reference"] or len(sys.argv) != 5:
        sys.exit(__doc__)
    print(json.dumps(_reference(int(sys.argv[2]), float(sys.argv[3]), sys.argv[4])))
