"""Plan audit: dump `.explain(formatted)` for every driver query and
grep the physical plans for the scale-relevant properties.

For each `queries()` entry this prints a one-line summary —
  pushed   any parquet scan with PushedFilters: [non-empty]
  pruned   every parquet ReadSchema is a strict subset of the file schema
  bcast    plan contains BroadcastHashJoin / BroadcastExchange
  smj      plan contains SortMergeJoin
  codegen  number of WholeStageCodegen spans
  arrow    ArrowEvalPython stages (the only sanctioned Python hop)
  CARTESIAN / rowudf  red flags (CartesianProduct outside the documented
           brute-force baselines; BatchEvalPython = per-row Python)
  plan_chars  length of the query's full QueryExecution description —
           a persisted input nests its whole cached plan in every query
           that reads it, and this column shows that bloat
— and with ``--full <name>`` dumps the whole formatted plan for one query.

Usage: python tools/explain_audit.py [sf_dir] [--full name] [--exec]
Writes PLANS.md at the repo root with the summary table.

``--exec`` runs each query (count) before explaining so the AQE plan is
final — without it codegen ids are unassigned (AdaptiveSparkPlan
isFinalPlan=false) and the codegen column under-reports.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from jmdfane_spark.session import get_spark  # noqa: E402

# Documented exact/brute-force baselines where a cartesian/nested-loop is
# the intended plan shape (small bounded side), not a scale bug.
CARTESIAN_OK = {"ann_topk", "ann_topk_ivf", "euclidean_pairs"}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _ops(plan: str, op: str) -> int:
    # count footnote entries "(N) <Op>" only — the operator also appears in
    # the tree rendering, so bare substring counts double every operator
    return len(re.findall(rf"^\(\d+\) {op}", plan, flags=re.M))


def audit_one(name: str, plan: str) -> dict:
    pushed = len(re.findall(r"PushedFilters: \[[^\]]+\]", plan))
    scans = _ops(plan, "Scan parquet")
    # column pruning: widest ReadSchema across the query's parquet scans
    # (struct<a:…,b:…> top-level field count)
    widths = [
        s.count(",") + 1
        for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if s.strip()
    ]
    return {
        "scans": scans,
        "pushed": pushed,
        "maxcols": max(widths, default=0),
        "bcast": _ops(plan, "BroadcastHashJoin") + _ops(plan, "BroadcastNestedLoopJoin"),
        "smj": _ops(plan, "SortMergeJoin"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "arrow": _ops(plan, "ArrowEvalPython"),
        "rowudf": _ops(plan, "BatchEvalPython"),
        "cartesian": _ops(plan, "CartesianProduct"),
        "final": "isFinalPlan=true" in plan,
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    full_name = None
    if "--full" in sys.argv:
        full_name = sys.argv[sys.argv.index("--full") + 1]

    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="jmdfane-explain")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `python tools/explain_audit.py {sf_dir}"
        + (" --exec" if "--exec" in sys.argv else "")
        + "` (final AQE plans when --exec).",
        "",
        "Columns: scans = parquet scans in the plan; pushed = scans with",
        "non-empty PushedFilters; maxcols = widest ReadSchema (column",
        "pruning evidence — compare against the 16-col lineitem / 9-col",
        "orders full widths); bcast/smj = join strategies chosen; codegen =",
        "distinct WholeStageCodegen spans; arrow = ArrowEvalPython stages",
        "(the only sanctioned Python hop); rowudf = BatchEvalPython per-row",
        "Python (must be 0 everywhere); cartesian = CartesianProduct",
        "(allowed only in the documented brute-force ANN baselines).",
        "plan_chars = length of `queryExecution().toString()` (logical,",
        "optimized and physical plans), where nested cached plans show up.",
        "er_pipeline_cc shows 0 scans because the pipeline materializes",
        "stage checkpoints (LogicalRDD) before CC.",
        "",
        "| query | scans | pushed | maxcols | bcast | smj | codegen | arrow | rowudf | cartesian | plan_chars | flags |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    do_exec = "--exec" in sys.argv
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            if do_exec:
                # collect() (not count()) so the df's OWN QueryExecution
                # runs and AQE finalizes the plan we're about to explain
                df.collect()
            plan = formatted_plan(df)
            plan_chars = len(df._jdf.queryExecution().toString())
        except Exception as e:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {type(e).__name__} | | | | | | | | | | |")
            continue
        a = audit_one(name, plan)
        flags = []
        if a["rowudf"]:
            flags.append("PER-ROW-PYTHON")
        if a["cartesian"] and name not in CARTESIAN_OK:
            flags.append("CARTESIAN")
        if a["scans"] and not a["pushed"] and "pipeline" not in name:
            # full scans are fine for whole-table ops (dedup/txt); note only
            flags.append("no-pushdown")
        lines.append(
            f"| {name} | {a['scans']} | {a['pushed']} | {a['maxcols']} | {a['bcast']} "
            f"| {a['smj']} | {a['codegen']} | {a['arrow']} | {a['rowudf']} "
            f"| {a['cartesian']} | {plan_chars} | {' '.join(flags)} |"
        )
        if full_name == name:
            print(plan)

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(qs)} queries)")


if __name__ == "__main__":
    main()
