"""tools/ab.py: git-revision, registry and module:function variants in one
interleaved run on the shared test session (anchors stubbed to fit the
test budget)."""

import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import ab  # noqa: E402

QUERY = "text_token_count"
# get_session re-applies its confs to the shared session, so ab must ask
# for the conftest session's core count
CPUS = "8"


def _no_anchors(spark, n_runs):
    return {"calibration_md5_20m_sec": 0.0}


def _other_rows(spark, sf_dir):
    return spark.range(3).toDF("n")


def _porcelain():
    return subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain"],
        capture_output=True, text=True, check=True,
    ).stdout


@pytest.fixture()
def ab_tmp(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


@pytest.mark.skipif(ab.revision_sha("HEAD") is None, reason="not a git checkout")
def test_head_revision_matches_working_tree(spark, sf_dir, ab_tmp):
    before = _porcelain()
    res = ab.run(spark, sf_dir, [f"HEAD:{QUERY}", QUERY], 1, _no_anchors)

    assert res["rows_equal"] is True
    assert res["sf"] == ab.bench.sf_value(sf_dir)
    assert res["cpus"] == spark.sparkContext.defaultParallelism
    assert res["rounds"] == 1
    assert res["anchors"] == [{"calibration_md5_20m_sec": 0.0}]
    head, work = res["variants"][f"HEAD:{QUERY}"], res["variants"][QUERY]
    for v in (head, work):
        assert set(v) == {
            "query", "times", "median", "q1", "q3", "rows", "digest",
            "wins_vs_first",
        }
        assert v["query"] == QUERY and len(v["times"]) == 1
        assert v["q1"] <= v["median"] <= v["q3"]
    assert head["digest"] == work["digest"] and head["rows"] > 0
    assert head["wins_vs_first"] == 0 and work["wins_vs_first"] in (0, 1)

    # the extracted package is removed and unloaded; git state untouched
    assert not [p for p in os.listdir(ab_tmp) if p.startswith("ab_")]
    assert not [m for m in sys.modules if m.startswith("sqlflow_")]
    assert _porcelain() == before


def test_mismatched_rows_exit_1(sf_dir, ab_tmp, capsys):
    rc = ab.main(
        ["--sf", sf_dir, "--rounds", "1", "--cpus", CPUS,
         QUERY, f"{__name__}:_other_rows"],
        anchors=_no_anchors,
    )
    out, err = capsys.readouterr()
    assert rc == 1
    assert '"rows_equal": false' in out
    assert "rows differ" in err
    assert QUERY in err and f"{__name__}:_other_rows" in err
    assert not [p for p in os.listdir(ab_tmp) if p.startswith("ab_")]
