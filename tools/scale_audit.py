"""Whole-catalog physical-plan scale audit → SCALE_AUDIT.md + PLAN_PINS.json.

For every non-streaming catalog entry this builds the DataFrame at a
small sf dir (plan shape is scale-invariant pre-AQE) and extracts the
scale-relevant physical-plan statistics:

- shuffle exchanges (``Exchange hashpartitioning/rangepartitioning``)
  vs broadcast exchanges — every shuffle is a cluster-wide data move
  at 100 TB, so the count per query is the headline number;
- join strategies (BroadcastHashJoin / SortMergeJoin /
  ShuffledHashJoin / BroadcastNestedLoopJoin);
- Python execution nodes (ArrowEvalPython / BatchEvalPython /
  PythonMapInArrow / MapInPandas / FlatMapGroupsInPandas) — the
  catalog's relational tier is 100% JVM; Python appears only in the
  designed Arrow-batch operators (ingest walker, media decode,
  sketch partials);
- parquet scans and whether at least one scan carries pushed filters;
- cartesian products (must be zero).

``localCheckpoint()`` truncates lineage, so the final plan alone would
miss everything executed before a checkpoint. Each entry is therefore
built under ``plans.checkpoint.recording_checkpoint_plans``, which
captures the physical plan of every DataFrame at the moment it is
checkpointed; the per-entry statistics AND the headline counts
(cartesian products included) aggregate the final plan plus all
checkpoint-hidden subplans. Iterative operators (connected components,
PageRank) record one subplan per executed round — the hidden-shuffle
column counts real executed work, not the lazy plan.

(WholeStageCodegen regions are not visible pre-execution under AQE, so
they are not reported here; the plan-shape tests pin JVM-only
execution where it matters.)

Besides the human-readable table, the tool writes ``PLAN_PINS.json``:
the per-entry {shuffles, bnlj, py, cartesian, gw} record.
``tests/test_oracle_gate.py::test_entry_matches_oracle`` audits each
entry on the build it collects and fails that entry on ANY drift from
the committed pin — an entry silently growing a shuffle or a
nested-loop join breaks the suite instead of only changing a generated
document. Intentional changes regenerate the pin with this tool and
show up in the diff for review.

Each entry is built and audited by
``archive_to_parquet_spark/plans/audit.audit_build``, the one code path
the tool, the oracle gate and ``observability.profile`` (the bench's
plan shape) share.

Usage: python tools/scale_audit.py [sf_dir] > SCALE_AUDIT.md
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the canonical pin scale: must equal the oracle gate's SF_DIR
# (tests/test_plan_shapes.SF_DIR)
PIN_SF_DIR = "/root/testdata/sf0.001"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from archive_to_parquet_spark.plans.audit import collect_audit, pin_of
    from archive_to_parquet_spark.session import get_spark

    spark = get_spark("scale_audit")
    rows, streaming, errors = collect_audit(spark, sf_dir)

    # The committed pin is only valid at the canonical audit scale —
    # an exploratory run at another sf must not silently overwrite it
    # (the oracle gate compares each entry's sf0.001 audit against it).
    if sf_dir == PIN_SF_DIR:
        pins = {
            "_comment": (
                "Per-entry physical-plan pin written by "
                f"tools/scale_audit.py at {sf_dir}; enforced by "
                "tests/test_oracle_gate.py. Regenerate deliberately "
                "after an intentional plan change."
            ),
            "sf_dir": sf_dir,
            "entries": {
                r["name"]: pin_of(r)
                for r in sorted(rows, key=lambda r: r["name"])
            },
        }
        with open(os.path.join(REPO, "PLAN_PINS.json"), "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(
            f"[scale_audit] wrote PLAN_PINS.json ({len(rows)} entries)",
            file=sys.stderr,
        )
    else:
        print(
            f"[scale_audit] sf_dir {sf_dir} != {PIN_SF_DIR}: exploratory "
            "run, PLAN_PINS.json NOT rewritten",
            file=sys.stderr,
        )

    total_shuffles = sum(r["shuffle_exchanges"] for r in rows)
    with_py = [r for r in rows if r["py"]]
    cartesians = [r["name"] for r in rows if r["cartesian"]]

    print("# SCALE_AUDIT — whole-catalog physical-plan statistics")
    print()
    print(
        f"Auto-generated by `python tools/scale_audit.py` at `{sf_dir}` "
        "(plan shape is scale-invariant pre-AQE; AQE may further "
        "coalesce/convert at runtime)."
    )
    print()
    n_hidden = sum(r["ckpt_subplans"] for r in rows)
    print(
        f"- **{len(rows)} batch entries audited**, "
        f"{len(streaming)} streaming entries excluded (they execute on "
        f"construction), {len(errors)} errors. All statistics include "
        f"the {n_hidden} checkpoint-hidden subplans captured at "
        "localCheckpoint call sites (plans/checkpoint.py) — nothing "
        "escapes the audit behind lineage truncation."
    )
    print(
        f"- **Shuffle exchanges: {total_shuffles} total**, "
        f"max {max(r['shuffle_exchanges'] for r in rows)} in a single "
        "query, median "
        f"{sorted(r['shuffle_exchanges'] for r in rows)[len(rows) // 2]}."
    )
    print(
        f"- **Cartesian products: {len(cartesians)}** (incl. "
        "checkpoint-hidden subplans)"
        + (f" — {cartesians}" if cartesians else "")
    )
    bnlj_entries = sorted(r["name"] for r in rows if r["bnlj"])
    print(
        f"- **Nested-loop (all-pairs / non-equi) joins in "
        f"{len(bnlj_entries)} entries** (incl. hidden subplans): "
        f"{', '.join(bnlj_entries) or '—'} — deliberate exact baselines "
        "and designed small-side non-equi joins; every one has a "
        "bucketed scale twin or a bounded build side."
    )
    print(
        f"- **Python exec nodes in {len(with_py)} entries** (the "
        "designed Arrow-batch operators — ingest walker, media decode, "
        "sketch partials; the relational tier is 100% JVM): "
        f"{', '.join(sorted(r['name'] for r in with_py))}"
    )
    bhj = sum(r["bhj"] for r in rows)
    smj = sum(r["smj"] for r in rows)
    shj = sum(r["shj"] for r in rows)
    print(
        f"- **Joins: {bhj} broadcast-hash vs {smj} sort-merge + "
        f"{shj} shuffled-hash** — dimensions broadcast; only "
        "fact-to-fact joins shuffle."
    )
    gw_entries = sorted(r["name"] for r in rows if r["global_windows"])
    print(
        f"- **Unpartitioned (single-partition-funnel) windows in "
        f"{len(gw_entries)} entries**: {', '.join(gw_entries) or '—'}"
        + (
            " — each is a documented bounded-input fold (see the "
            "entry's docstring); everything data-sized partitions."
            if gw_entries
            else ""
        )
    )
    print(
        "- **Every entry's {shuffles, BNLJ, python, cartesian, "
        "global-windows} is pinned in PLAN_PINS.json and enforced by "
        "tests/test_oracle_gate.py** — silent drift fails the suite."
    )
    print()
    print(
        "| entry | shuffles | bcast | BHJ | SMJ+SHJ | BNLJ | python | "
        "scans | pushdown | ckpt-subplans |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|")
    for r in sorted(
        rows, key=lambda r: (-r["shuffle_exchanges"], r["name"])
    ):
        print(
            f"| {r['name']} | {r['shuffle_exchanges']} | "
            f"{r['broadcast_exchanges']} | {r['bhj']} | "
            f"{r['smj'] + r['shj']} | {r['bnlj']} | {r['py'] or '—'} | "
            f"{r['scans']} | {'y' if r['pushed'] else '—'} | "
            f"{r['ckpt_subplans'] or '—'} |"
        )
    if errors:
        print()
        print("## Errors")
        for name, err in errors:
            print(f"- {name}: {err}")
    print()
    print("## Streaming entries (not plan-audited)")
    print(", ".join(streaming))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
