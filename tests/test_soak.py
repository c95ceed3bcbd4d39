"""Every soak plug-in of scripts/soak.py runs at its smallest size
where its check still means something, on the shared session, and
passes that check; the runner removes its work dir and reports a
failed check as a non-zero exit.

The full-size runs behind BASELINE.md's flatness numbers use the same
plug-ins: ``python scripts/soak.py <name> [n_batches] [per_batch]``.
"""

from __future__ import annotations

import importlib.util
import os
import pathlib
import sys

import pytest

_spec = importlib.util.spec_from_file_location(
    "soak", pathlib.Path(__file__).resolve().parents[1] / "scripts" / "soak.py"
)
soak = sys.modules["soak"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(soak)

# name -> (n_batches, per_batch). 2 batches wherever a planted
# cross-batch case exists by then; anomaly needs its 12-row baseline
# before a spike can flag, retention one compaction at batch 10, and
# profiles_crash enough files that 4 micro-batches stop mid-stream.
SMOKE = {
    "anomaly": (13, 2000),
    "composed": (2, 50),
    "curation": (2, 20),
    "dedup": (2, 20),
    "funnel": (2, 1000),
    "hybrid": (2, 10),
    "itemcf": (2, 20),
    "passages": (2, 20),
    "postings": (2, 10),
    "profiles": (2, 20),
    "profiles_crash": (16, 10),
    "profiles_rocksdb": (2, 20),
    "retention": (11, 10),
    "salvage": (2, 20),
    "skewed_store": (2, 10),
    "store_compact": (2, 10),
    "vector": (2, 100),
}


def test_smoke_covers_every_plugin():
    assert set(SMOKE) == set(soak.PLUGINS)


@pytest.mark.parametrize("name", sorted(SMOKE))
def test_plugin_smoke(spark, name):
    before = spark.conf.getAll
    out = soak.run(spark, name, *SMOKE[name])
    assert out["ok"], out
    # one plug-in must not move later tests onto another session
    # setting (profiles_rocksdb swaps the state store provider)
    assert spark.conf.getAll == before


def _register(monkeypatch, fold, ok):
    works = []

    def fake(_spark, work, _n, _per):
        works.append(work)
        return soak.Soak(lambda b: None, {"fold": fold}, lambda: {"ok": ok})

    monkeypatch.setitem(soak.PLUGINS, "fake", (fake, 2, 1))
    return works


def test_failed_check_exits_nonzero_and_removes_work_dir(spark, monkeypatch, capsys):
    works = _register(monkeypatch, lambda df, b: None, ok=False)
    assert soak.main(["fake"], spark=spark) == 1
    assert '"ok": false' in capsys.readouterr().out
    assert works and not os.path.exists(works[0])


def test_raising_fold_removes_work_dir(spark, monkeypatch):
    def fold(_df, b):
        assert b == 0, "invariant broken"

    works = _register(monkeypatch, fold, ok=True)
    with pytest.raises(AssertionError, match="invariant broken"):
        soak.main(["fake"], spark=spark)
    assert works and not os.path.exists(works[0])


def test_bad_arguments_print_usage(capsys):
    assert soak.main([]) == 2
    assert soak.main(["no_such_soak"]) == 2
    assert soak.main(["dedup", "0"]) == 2
    assert soak.main(["dedup", "2", "ten"]) == 2
    assert soak.main(["dedup", "2", "10", "3"]) == 2
    assert "usage: soak.py" in capsys.readouterr().err


@pytest.mark.parametrize(
    "times, warmup, want",
    [
        ([9.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0], 1, 2.0),  # times[-3:] / times[1:4]
        ([9.0, 1.0, 2.0], 1, 1.0),  # fewer than 3 after warm-up: whole series
        ([9.0, 9.0, 9.0, 9.0, 1.0, 1.0, 1.0, 3.0, 3.0, 3.0], 4, 3.0),
        ([5.0], 1, 1.0),  # nothing after warm-up: no divide by zero
    ],
)
def test_flatness_rule(times, warmup, want):
    assert soak.flatness(times, warmup) == want
