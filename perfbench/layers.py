"""Per-layer metrics of a traced run.

Each figure is the median over the run's ops of a per-op value (a sum of
span times, a count, a ratio), except the ``session.*`` set-up figures
and the end-of-run storage ratio. Metrics of a layer the workload does
not touch read 0: that is the "no change" prediction for the workloads
that bypass it (perfbench/README.md has the layer -> metric map).
"""

from __future__ import annotations

import statistics

from spans import SPARK_COUNTERS, Tracer
from workloads import CORPUS_MIX, FAMILIES, CorpusMix, Medallion

_S, _N, _B, _R = "s", "count", "bytes", "ratio"

PER_LAYER = {
    "session.get_spark_s": _S,
    "session.preload_s": _S,
    "session.warmup_s": _S,
    "runner.run_silver.self_s": _S,
    "runner.run_gold.self_s": _S,
    "runner.run_dashboard_s": _S,
    "json_source.files_read": _N,
    "json_source.bytes_read": _B,
    "json_source.new_bytes": _B,
    "json_source.useful_file_ratio": _R,
    "ledger.record_ingested_s": _S,
    "ledger.rows": _N,
    "tx_table.commit_s": _S,
    "tx_table.commits": _N,
    "tx_table.bytes_written": _B,
    "tx_table.read_s": _S,
    "tx_table.stages_per_read": _N,
    "tx_table.manifests": _N,
    "tx_table.stage_dirs": _N,
    "gold.rows_scanned": _N,
    "gold.useful_row_ratio": _R,
    "storage.bytes_stored_per_input_byte": _R,
    "corpus.plan_s": _S,
    "corpus.exec_s": _S,
    **{f"operators.{f}.p50_s": _S for f in FAMILIES},
    **{f"spark.{c}": (_S if c.endswith("_s") else _B if c.endswith("_bytes") else _N) for c in SPARK_COUNTERS},
    "trace.coverage": _R,
    "trace.op_p50_s": _S,
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _time_in(tracer: Tracer, name: str, op: int) -> float:
    return sum(s.duration for s in tracer.of(name, op))


def _self_in(tracer: Tracer, name: str, op: int) -> float:
    return sum(s.self_s for s in tracer.of(name, op))


def layer_metrics(workload, tracer: Tracer, *, get_spark_s: float, setup: dict) -> dict:
    """``{name: (value, unit)}`` for every metric in ``PER_LAYER``."""
    ops = tracer.of("op")
    per_op: list[dict] = []
    for op_span in ops:
        i = op_span.op
        children = sum(s.duration for s in tracer.spans if s.parent == op_span.id)
        row = {
            "trace.coverage": children / op_span.duration,
            "trace.op_p50_s": op_span.duration,
            **{f"spark.{c}": op_span.spark.get(c, 0) for c in SPARK_COUNTERS},
        }
        if isinstance(workload, Medallion):
            row.update(
                {
                    "runner.run_silver.self_s": _self_in(tracer, "runner.run_silver", i),
                    "runner.run_gold.self_s": _self_in(tracer, "runner.run_gold", i),
                    "runner.run_dashboard_s": _time_in(tracer, "runner.run_dashboard", i),
                    "ledger.record_ingested_s": _time_in(tracer, "ledger.record_ingested", i),
                    "tx_table.commit_s": _time_in(tracer, "tx_table.commit", i),
                    "tx_table.read_s": _time_in(tracer, "tx_table.read", i),
                    **workload.op_counters(i),
                }
            )
        if isinstance(workload, CorpusMix):
            row.update(
                {
                    "corpus.plan_s": _time_in(tracer, "corpus.plan", i),
                    "corpus.exec_s": _time_in(tracer, "corpus.exec", i),
                }
            )
        per_op.append(row)

    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = get_spark_s
    out["session.preload_s"] = setup["preload_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    for key in per_op[0] if per_op else ():
        out[key] = _median(row[key] for row in per_op)
    if isinstance(workload, Medallion):
        out["storage.bytes_stored_per_input_byte"] = workload.stored_per_input_byte()
    if isinstance(workload, CorpusMix):
        queries = tracer.of("corpus.query")
        for f in FAMILIES:
            out[f"operators.{f}.p50_s"] = _median(
                s.duration for s in queries if s.op >= 0 and CORPUS_MIX[s.attrs["query"]] == f
            )
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}
