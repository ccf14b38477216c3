"""CATALOG.md is the output of scripts/gen_catalog.py (no Spark needed)."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_md_matches_generator():
    spec = importlib.util.spec_from_file_location(
        "gen_catalog", os.path.join(ROOT, "scripts", "gen_catalog.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert gen.CATALOG == os.path.join(ROOT, "CATALOG.md")
    with open(gen.CATALOG) as f:
        committed = f.read()
    assert gen.render() == committed, (
        "CATALOG.md is stale: run python scripts/gen_catalog.py"
    )
