"""The driver checks only the first 50 entries of queries() per round —
the registry's ordering is what converges that partial check to full
coverage across rounds. Pin its three tiers: names whose latest driver
row failed, then never-verified names in registration order, then
verified names by latest clean round, oldest first."""

from __future__ import annotations

import json

from etl_arcgis_spark import registry

_GREEN = {"hash_match": True, "err": None, "spark_rows": 1}
_WEAK_RAN = {"hash_match": None, "err": "no_oracle", "spark_rows": 5}
_ERROR = {"hash_match": None, "err": "boom", "spark_rows": None}


def _ordered_names(monkeypatch, tmp_path, correctness: dict) -> list[str]:
    for fname, rows in correctness.items():
        text = rows if isinstance(rows, str) else json.dumps(rows)
        (tmp_path / fname).write_text(text)
    monkeypatch.setattr(registry, "_REPO_DIR", str(tmp_path))
    return list(registry.all_queries())


def _registered() -> list[str]:
    registry.load_all()
    return list(registry.QUERIES)


def test_unverified_queries_register_first(monkeypatch, tmp_path):
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {
                # hash-green -> verified
                "scan_project_filter": _GREEN,
                # weak-ran -> verified
                "minhash_lsh_dedup": _WEAK_RAN,
                # driver ERROR -> re-verify FIRST
                "join_inner_equi": _ERROR,
            }
        },
    )
    verified = {"scan_project_filter", "minhash_lsh_dedup"}
    # the failed name leads, never-verified names follow in
    # registration order, the verified names come last
    unverified = [
        n for n in _registered() if n not in verified and n != "join_inner_equi"
    ]
    assert names[0] == "join_inner_equi"
    assert names[1 : 1 + len(unverified)] == unverified
    assert set(names[-2:]) == verified
    # ordering never changes the registered set; oracles follow it
    assert sorted(names) == sorted(_registered())
    assert list(registry.all_oracles()) == [n for n in names if n in registry.ORACLES]


def test_verified_names_rotate_oldest_clean_round_first(monkeypatch, tmp_path):
    reg = _registered()
    a, b, c, d = reg[0], reg[1], reg[2], reg[3]
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {b: _GREEN, c: _GREEN, d: _GREEN},
            # a and b re-verified in r02; d's later row is weak-ran
            "CORRECTNESS_r02.json": {a: _GREEN, b: _GREEN, d: _WEAK_RAN},
        },
    )
    # c's latest clean row is r01 (oldest); a, b, d tie on r02 and keep
    # registration order
    assert names[-4:] == [c, a, b, d]


def test_later_round_green_clears_earlier_error(monkeypatch, tmp_path):
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {
                "join_inner_equi": {"hash_match": None, "err": "boom", "spark_rows": None}
            },
            "CORRECTNESS_r02.json": {
                "join_inner_equi": {"hash_match": True, "err": None, "spark_rows": 9}
            },
        },
    )
    # green in r02 -> no longer front-of-queue, now in the verified tail
    assert names.index("join_inner_equi") > len(names) - 60


def test_later_round_error_demotes_earlier_green(monkeypatch, tmp_path):
    # green in r01, driver ERROR in r02 -> the regression must re-enter
    # the front of the queue (latest status wins), not hide in the
    # verified tail forever.
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {
                "join_inner_equi": {"hash_match": True, "err": None, "spark_rows": 9}
            },
            "CORRECTNESS_r02.json": {
                "join_inner_equi": {"hash_match": None, "err": "boom", "spark_rows": None}
            },
        },
    )
    assert names[0] == "join_inner_equi"


def test_no_correctness_files_preserves_priority_order(monkeypatch, tmp_path):
    # nothing verified: every name is in the never-verified tier, so
    # the order is registration order and the set is unchanged
    names = _ordered_names(monkeypatch, tmp_path, {})
    assert names == _registered()


def test_malformed_correctness_inputs_are_skipped(monkeypatch, tmp_path):
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            # invalid JSON: the whole file is skipped
            "CORRECTNESS_r01.json": '{"scan_project_filter": ',
            # non-dict rows are skipped, the dict row still counts
            "CORRECTNESS_r02.json": {"join_inner_equi": "ERROR", "join_semi": _GREEN},
            # non-integer round suffix: the whole file is skipped
            "CORRECTNESS_rXX.json": {"join_anti": _ERROR},
            # a non-dict top level is skipped
            "CORRECTNESS_r03.json": ["join_full_outer"],
        },
    )
    assert names[-1] == "join_semi"
    assert names[:-1] == [n for n in _registered() if n != "join_semi"]
