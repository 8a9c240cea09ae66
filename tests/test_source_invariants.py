"""Static source invariants — the grep checks the round-6/7 verdicts
ran by hand, codified so they can't regress silently.

1. No row-at-a-time Python UDFs anywhere in the package: Python-side
   compute is Arrow-batched (pandas_udf / mapInPandas) only, where no
   built-in exists. `F.udf(` in the hot path is the 10-100x slow
   class (SCALING.md "Python stays off the hot path").
2. No removable-empty-string `F.filter` lambdas: `F.filter(xs,
   lambda t: t != "")` is interpreted PER ELEMENT and drops out of
   whole-stage codegen, while `F.array_remove(xs, "")` is native and
   value-identical — the r6 tokenizer / r7 bpe+url fixes. Higher-order
   filters with GENUINE predicates (rlike, endswith, positional,
   runtime-array comparisons) are allowed; only the equality-to-""
   pattern has a native replacement.
3. No library code changes session settings (``spark.conf.set``):
   they are set once in ``session.get_spark``.
4. Only ``operators/tombstones.py`` names the ``__tombstones``
   sidecar: every index shares its one delete format, mask and
   compaction.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "bohemia_kenya_data_pipeline_spark"
)


def _sources() -> list[tuple[str, str]]:
    return [
        (str(p.relative_to(PKG.parent)), p.read_text())
        for p in sorted(PKG.rglob("*.py"))
    ]


def test_no_row_at_a_time_udf():
    hits = [
        f"{name}:{i}"
        for name, src in _sources()
        for i, line in enumerate(src.splitlines(), 1)
        if re.search(r"\bF\.udf\(|\@udf\b|functions\.udf\(", line)
    ]
    assert hits == [], f"row-at-a-time UDFs found: {hits}"


def test_no_removable_empty_string_filter_lambda():
    # the banned shape: F.filter(..., lambda X: X != "") or the
    # equivalent == ""/negation — replace with F.array_remove(..., "")
    pat = re.compile(
        r"F\.filter\([^)]*lambda\s+\w+\s*:\s*\w+\s*(?:!=|==)\s*(?:\"\"|'')"
    )
    hits = [
        f"{name}:{i}"
        for name, src in _sources()
        for i, line in enumerate(src.splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == [], (
        f"removable empty-string filter lambdas (use array_remove): {hits}"
    )


def test_extra_conf_typo_fails_loud(monkeypatch):
    # a pair without '=' must raise, not silently apply a no-op key —
    # otherwise an adversarial-config sweep green-lights the defaults
    import pytest

    from bohemia_kenya_data_pipeline_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.adaptive.enabled:false")
    with pytest.raises(ValueError, match="not 'key=value'"):
        get_spark(app_name="conf-typo-test")
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "=false;spark.sql.adaptive.enabled=false"
    )
    with pytest.raises(ValueError, match="not 'key=value'"):
        get_spark(app_name="conf-typo-test")


def test_no_library_code_changes_session_conf():
    # session-wide settings belong in session.get_spark: a query
    # builder that calls spark.conf.set mutates the caller's session
    # (the old per-call nanosAsLong set in queries._events)
    hits = [
        f"{name}:{i}"
        for name, src in _sources()
        for i, line in enumerate(src.splitlines(), 1)
        if re.search(r"\.conf\.(set|unset)\(", line)
    ]
    assert hits == [], f"session conf changed outside get_spark: {hits}"


def test_only_the_tombstone_module_names_the_sidecar():
    hits = [name for name, src in _sources() if "__tombstones" in src]
    assert hits == ["bohemia_kenya_data_pipeline_spark/operators/tombstones.py"], hits
