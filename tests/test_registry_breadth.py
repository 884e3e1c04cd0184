"""Registry breadth guard (VERDICT r6 item 8): every callable exported
at the package boundary must be referenced by at least one driver row
(plans/entry_queries.py, plans/tokens_pipeline.py, __spark_entry__.py),
tool or test file — so a new public operator cannot land
verification-free. The check is textual (word-boundary reference scan
over the verification surface), which is exactly the property we want:
a name nobody TYPES in a test or a driver row is unverified no matter
what the import graph says."""

import os
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

# the verification surface: driver rows + every test module and tool
_SURFACE = (
    [
        ROOT / "feature_extractor_spark" / "plans" / "entry_queries.py",
        ROOT / "feature_extractor_spark" / "plans" / "tokens_pipeline.py",
        ROOT / "__spark_entry__.py",
    ]
    + sorted((ROOT / "tests").glob("test_*.py"))
    + sorted((ROOT / "tools").glob("*.py"))
)


def _exports() -> dict[str, list[str]]:
    import feature_extractor_spark.encoder as enc
    import feature_extractor_spark.functions as fns
    import feature_extractor_spark.operators as ops
    import feature_extractor_spark.plans as plans
    import feature_extractor_spark.sources as sources
    import feature_extractor_spark.streaming as streaming

    out: dict[str, list[str]] = {}
    for mod in (ops, fns, streaming, sources, enc, plans):
        names = [
            n
            for n in dir(mod)
            if not n.startswith("_")
            and callable(getattr(mod, n))
            and getattr(
                getattr(mod, n), "__module__", ""
            ).startswith("feature_extractor_spark")
        ]
        out[mod.__name__] = names
    return out


def test_every_package_export_is_verified_somewhere():
    this_file = Path(__file__).resolve()
    text = "\n".join(
        p.read_text(encoding="utf-8")
        for p in _SURFACE
        if p.exists() and p.resolve() != this_file
    )
    uncovered = []
    for mod, names in _exports().items():
        for name in names:
            if not re.search(rf"\b{re.escape(name)}\b", text):
                uncovered.append(f"{mod}.{name}")
    assert not uncovered, (
        "package-boundary exports with NO driver-row, tool or test "
        f"reference (add coverage or unexport): {uncovered}"
    )


def test_guard_itself_detects_a_fabricated_export():
    """The guard must be able to fail: a name that provably appears
    nowhere on the verification surface is reported missing."""
    this_file = Path(__file__).resolve()
    text = "\n".join(
        p.read_text(encoding="utf-8")
        for p in _SURFACE
        if p.exists() and p.resolve() != this_file
    )
    fabricated = "definitely_not_a_real_operator_" + "xq31"
    assert not re.search(rf"\b{fabricated}\b", text)
