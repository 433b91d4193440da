"""Metric names, units and how each is computed from a run.

End-to-end metrics come from the untraced run's own timers; per-layer
metrics from the traced run's spans, counts and Spark event log.  Both
sets have the same names in every workload: a layer a workload never
calls reads 0 there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import SPAN_COUNTERS, self_times

END_TO_END = {
    "setup_s": "s",
    "setup_cpu_s": "s",
    "update_cpu_s": "s",
    "read_ms_p50": "ms",
    "storage_mb": "MB",
}
# reported and recorded, not gated.  The update wall is one sample a
# run and moves with whole-run windows of co-tenant load (up to 2x);
# its CPU, gated above, moves far less.  A noop is 1-2 s of Spark job
# overhead whose wall and CPU both follow the host's speed from run to
# run by more than the largest bound.  The JVM heap grows in steps
# whose timing varies run to run (2.2 vs 2.9 GB on identical inputs).
UNGATED = {"update_s_p50": "s", "noop_s_p50": "s", "noop_cpu_s": "s",
           "peak_rss_mb": "MB"}

# spans reported with the full counter set, over the measured cycles
CYCLE_SPANS = (
    "ingest.run_ingest",
    "ingest.fresh_feeds",
    "upsert.write_upsert_parquet.nvd",
    "upsert.write_upsert_parquet.nvd_json",
    "query_layer.read",
    "dedup.incremental_minhash_candidates_banded",
    "dedup.write_banded_signature_table",
    "similarity.ivf_topk_from_index",
)
# the backfill's own attribution: these spans over the set-up
SETUP_SPANS = ("ingest.run_ingest", "upsert.write_upsert_parquet.nvd")
COUNTS = ("ingest.feeds_fresh", "ingest.cves_in_batch",
          "upsert.partitions_rewritten", "upsert.partitions_linked",
          "upsert.files_written")
_UNIT = {"wall_share": "ratio", "self_share": "ratio", "cpu_share": "ratio",
         "gc_share": "ratio", "jobs": "count", "tasks": "count",
         "shuffle_mb": "MB", "input_mb": "MB", "output_mb": "MB"}


def _per_layer_units() -> dict[str, str]:
    units = {}
    for prefix, spans in (("", CYCLE_SPANS), ("setup.", SETUP_SPANS)):
        for sp in spans:
            for c in SPAN_COUNTERS:
                units[f"{prefix}{sp}.{c}"] = _UNIT[c]
    for fn in ("publish_version", "link_tree", "cleanup_stale"):
        units[f"table_io.{fn}.wall_share"] = "ratio"
    units["session.get_spark_s"] = "s"
    for c in COUNTS:
        units[c] = "count"
    units["table_io.versions_retained"] = "count"
    units["query_layer.files_per_read"] = "count"
    units["query_layer.rows_read_per_row_returned"] = "ratio"
    units["dedup.candidates_per_batch"] = "count"
    units["dedup.rows_read_per_candidate"] = "ratio"
    units["similarity.scanned_fraction"] = "ratio"
    return units


PER_LAYER = _per_layer_units()


def end_to_end(samples: dict[str, list[float]],
               storage_mb: float) -> dict[str, float]:
    med = statistics.median
    return {
        "setup_s": med(samples["setup_s"]),
        "setup_cpu_s": med(samples["setup_cpu_s"]),
        "update_cpu_s": med(samples["update_cpu_s"]),
        "read_ms_p50": 1e3 * med(samples["read_s"]),
        "storage_mb": storage_mb,
    }


def ungated(samples: dict[str, list[float]],
            peak_rss_mb: float) -> dict[str, float]:
    med = statistics.median
    return {
        "update_s_p50": med(samples["update_s"]),
        "noop_s_p50": med(samples["noop_s"]),
        "noop_cpu_s": med(samples["noop_cpu_s"]),
        "peak_rss_mb": peak_rss_mb,
    }


def percentiles_ms(values: list[float]) -> dict:
    """Median and the highest of p75/p90/p99 with ten samples beyond it,
    with the sample count (for the human-readable report)."""
    out = {"n": len(values), "p50": 1e3 * statistics.median(values)}
    for q in (99, 90, 75):
        if len(values) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = 1e3 * statistics.quantiles(values, n=100)[q - 1]
            break
    return out


def per_layer(tracer, counters: dict[str, dict], n_cycles: int,
              get_spark_s: float) -> dict[str, float]:
    """Spans and counts of the traced run → per-layer metrics.  Span
    counters include child spans; self time excludes them.  Times are
    divided by the wall of the phase's ops (``op.*`` spans): a share of
    the measured time for walls, cores kept busy for executor CPU and
    GC.  Counts and bytes are per measured cycle (per set-up for
    ``setup.*``)."""
    spans = tracer.spans
    selfs = self_times(spans)
    incl: dict[int, dict] = {}
    kids = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp.sid)
    spark_keys = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb",
                  "input_mb", "input_rows", "output_mb")
    for sp in reversed(spans):             # children have larger ids
        own = counters.get(f"span{sp.sid}", {})
        c = {k: own.get(k, 0.0) + sum(incl[kid][k] for kid in kids[sp.sid])
             for k in spark_keys}
        c["wall_s"] = sp.end - sp.start
        c["self_s"] = selfs[sp.sid]
        incl[sp.sid] = c

    def total(phase: str, name: str, counter: str) -> float:
        return sum(incl[sp.sid][counter] for sp in spans
                   if sp.phase == phase and sp.name == name)

    def op_wall(phase: str) -> float:
        return sum(sp.end - sp.start for sp in spans
                   if sp.phase == phase and sp.name.startswith("op."))

    out: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    for prefix, phase, names, n in (("", "cycle", CYCLE_SPANS, n_cycles),
                                    ("setup.", "setup", SETUP_SPANS, 1)):
        wall = op_wall(phase)
        for sp in names:
            for c in SPAN_COUNTERS:
                if c.endswith("_share"):
                    v = total(phase, sp, c[:-len("share")] + "s") / wall
                else:
                    v = total(phase, sp, c) / n
                out[f"{prefix}{sp}.{c}"] = v
    for fn in ("publish_version", "link_tree", "cleanup_stale"):
        out[f"table_io.{fn}.wall_share"] = total(
            "cycle", f"table_io.{fn}", "wall_s") / op_wall("cycle")
    out["session.get_spark_s"] = get_spark_s

    counts = defaultdict(list)
    for phase, name, value in tracer.counts:
        if phase == "cycle":
            counts[name].append(value)
    for c in COUNTS:
        out[c] = sum(counts[c]) / n_cycles
    if counts["table_io.versions_retained"]:
        out["table_io.versions_retained"] = statistics.mean(
            counts["table_io.versions_retained"])
    if counts["query_layer.files_read"]:
        out["query_layer.files_per_read"] = statistics.mean(
            counts["query_layer.files_read"])
        out["query_layer.rows_read_per_row_returned"] = (
            sum(counts["query_layer.rows_read"])
            / max(1, sum(counts["query_layer.rows_returned"])))
    if counts["dedup.candidates"]:
        cands = sum(counts["dedup.candidates"])
        out["dedup.candidates_per_batch"] = cands / len(
            counts["dedup.candidates"])
        probe_rows = total("cycle",
                           "dedup.incremental_minhash_candidates_banded",
                           "input_rows")
        out["dedup.rows_read_per_candidate"] = probe_rows / max(1, cands)
    if counts["similarity.rows_scanned"]:
        out["similarity.scanned_fraction"] = (
            sum(counts["similarity.rows_scanned"])
            / sum(counts["similarity.corpus_rows"]))
    return out
