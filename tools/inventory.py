"""Regenerate INVENTORY.md from the live registry.

One row per fixture query: key, correctness mode (DuckDB oracle vs
sanctioned rows-only), driver-window membership this round, and the
first sentence of the operator doc. SURVEY.md §2 maps keys to
reference components; this file is the mechanical index kept in
lockstep with the code (rerun after registering an operator).

Usage: python tools/inventory.py  (writes INVENTORY.md)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def first_sentence(doc: str, limit: int = 160) -> str:
    flat = " ".join(doc.split())
    for stop in (". ", " — ", "; "):
        i = flat.find(stop)
        if 0 < i < limit:
            return flat[: i + 1].rstrip(";— ").rstrip()
    return flat[:limit].rstrip() + ("…" if len(flat) > limit else "")


def main() -> int:
    from hyperswitch_data_backfill_spark import registry

    registry._load_all_operator_modules()
    window = set(registry._DRIVER_WINDOW)
    rows = []
    for name, q in registry.REGISTRY.items():
        mode = "oracle" if q.oracle else "rows-only"
        win = "yes" if name in window else ""
        rows.append((name, mode, win, first_sentence(q.doc or "")))

    n_oracle = sum(1 for r in rows if r[1] == "oracle")
    lines = [
        "# INVENTORY — registered fixture queries",
        "",
        "Auto-generated by `python tools/inventory.py` — do not edit by",
        "hand. SURVEY.md §2 maps each key to its reference component and",
        "scale design; PLANS.md holds the physical-plan audits.",
        "",
        f"**{len(rows)} queries: {n_oracle} DuckDB-oracle-backed, "
        f"{len(rows) - n_oracle} sanctioned rows-only** (approximate/crypto "
        "by construction; each has its own pytest quality guard — the "
        "allowlist with rationales lives in tests/test_registry.py). "
        "“window” marks membership in this round's 50-key driver sweep "
        "(`registry._DRIVER_WINDOW`).",
        "",
        "| key | correctness | window | summary |",
        "|---|---|---|---|",
    ]
    for name, mode, win, doc in sorted(rows):
        lines.append(f"| `{name}` | {mode} | {win} | {doc} |")
    out = "\n".join(lines) + "\n"
    with open(Path(__file__).resolve().parent.parent / "INVENTORY.md", "w") as f:
        f.write(out)
    print(f"wrote INVENTORY.md: {len(rows)} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
