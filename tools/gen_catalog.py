"""Generate CATALOG.md: one line per catalog entry, grouped by the
family that registers it (the family module's docstring introduces each
group), first docstring sentence as the description. Run after adding
entries:

    python tools/gen_catalog.py > CATALOG.md
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    m = re.match(r"(.+?[.!?])(\s|$)", text)
    s = m.group(1) if m else text
    return s if len(s) <= 300 else s[:297] + "..."


def main() -> int:
    from archive_to_parquet_spark import queries as catalog

    qs = catalog.queries()
    oracles = catalog.oracle_sql()
    by_family: dict[str, list[str]] = {}
    for name in qs:  # registration order is family order
        by_family.setdefault(catalog.family(name), []).append(name)

    print("# CATALOG — every query/operator entry (auto-generated)")
    print()
    print(
        f"{len(qs)} entries; {len(oracles)} with a DuckDB oracle "
        "(the driver compares rows + schema + value hash per entry). "
        "Regenerate with `python tools/gen_catalog.py > CATALOG.md`."
    )
    for fam, names in by_family.items():
        module = sys.modules[f"archive_to_parquet_spark.queries.{fam}"]
        intro = " ".join(module.__doc__.strip().split("\n\n")[0].split())
        print(f"\n## {fam} ({len(names)})\n")
        print(f"{intro}\n")
        for name in sorted(names):
            desc = first_sentence(qs[name].__doc__)
            mark = "" if name in oracles else " *(no SQL oracle)*"
            print(f"- **{name}**{mark} — {desc}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
