"""Regenerate CATALOG.md from the query catalog's docstrings.

Run ``python scripts/gen_catalog.py`` (from any directory): it rewrites
the CATALOG.md next to this script's parent directory. Groups entries by
name-prefix family in ``queries()`` order, one line per entry (first ~195
chars of the whitespace-flattened docstring). No Spark session needed;
``tests/test_catalog_doc.py`` checks the committed file is its output.
"""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CATALOG = os.path.join(ROOT, "CATALOG.md")
sys.path.insert(0, ROOT)

from geoarrow_rs_spark import queries as Q  # noqa: E402

FAMILIES = [
    ("TPC-H-style relational", r"^q\d+_|^q_"),
    ("Geospatial", r"^geo_"),
    ("Deduplication", r"^dedup_"),
    ("Text analysis", r"^text_"),
    ("Similarity / ANN", r"^sim_"),
    ("Pipeline hygiene", r"^pipe_"),
    ("Event analytics / streaming analogues", r"^events_"),
    ("Multimodal", r"^mm_"),
]


def blurb(fn) -> str:
    flat = " ".join((fn.__doc__ or "").split())
    if len(flat) > 195:
        flat = flat[:195].rstrip()
    if not flat.endswith("."):
        flat += "."
    return flat


def render() -> str:
    """The CATALOG.md text for the current catalog."""
    qs = Q.queries()
    groups = {title: [] for title, _ in FAMILIES}
    for name, fn in qs.items():
        for title, pat in FAMILIES:
            if re.match(pat, name):
                groups[title].append((name, fn))
                break
        else:
            raise SystemExit(f"unclassified catalog entry: {name}")
    total = len(qs)
    out = [
        f"# CATALOG — the {total} oracle-checked queries",
        "",
        "Every entry has BOTH a `queries()` callable and a strict `oracle_sql()`",
        "DuckDB mirror (rows + schema + exact values compared by the driver at",
        "sf0.01 and by `tests/test_oracle_parity.py` at any SF). Generated from",
        "the docstrings in `geoarrow_rs_spark/queries/` by",
        "`scripts/gen_catalog.py`.",
        "",
    ]
    for title, _ in FAMILIES:
        entries = groups[title]
        out.append(f"## {title} ({len(entries)})")
        out.append("")
        for name, fn in entries:
            out.append(f"- **{name}** — {blurb(fn)}")
        out.append("")
    return "\n".join(out)


def main():
    with open(CATALOG, "w") as f:
        f.write(render())
    print(f"{CATALOG} regenerated")


if __name__ == "__main__":
    main()
