"""Every package module and every script compiles with warnings as
errors.

Import-time warnings such as ``invalid escape sequence`` fire only when
a module is compiled, and the bytecode cache hides them after the
first import, so a pytest ``filterwarnings`` entry cannot catch them:
compile the sources directly.
"""

from __future__ import annotations

import pathlib
import warnings

import streaming_recommendation_spark

PACKAGE = pathlib.Path(streaming_recommendation_spark.__file__).parent
SCRIPTS = PACKAGE.parent / "scripts"


def test_package_compiles_without_warnings():
    failures = []
    sources = sorted(PACKAGE.rglob("*.py")) + sorted(SCRIPTS.glob("*.py"))
    assert any(p.parent == SCRIPTS for p in sources), "scripts/ not found"
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as e:
                failures.append(f"{path.relative_to(PACKAGE.parent)}: {e}")
    assert not failures, failures


def test_curation_oracle_regexes_keep_their_backslashes():
    """q186/q187's oracle SQL holds DuckDB regexes; as raw strings the
    backslash classes reach DuckDB exactly as written."""
    from streaming_recommendation_spark.queries import registry

    reg = registry()
    for name, classes in (
        ("q186_curation_pipeline", ["'\\s+'", "'\\S+'", "'[^\\w\\s]'"]),
        ("q187_streaming_curation_twin", ["'\\s+'", "'\\S+'", "'[^\\w\\s]'"]),
    ):
        for cls in classes:
            assert cls in reg[name].oracle, (name, cls)
