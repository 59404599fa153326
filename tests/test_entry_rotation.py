"""Driver-gate rotation invariants (``__spark_entry__.queries()``).

The rotation orders the registry least-recently-driver-sampled first,
reading the committed ``CORRECTNESS_r*.json`` artifacts. Round-13
advice hardening: a FAILED entry (``err`` set or ``hash_match`` false)
must NOT count as sampled (else a known-failing query rotates to the
back and evades re-checking for rounds), and a malformed artifact
(JSON array at top level) must be skipped, not crash.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry(tmp_path):
    """Load a copy of __spark_entry__.py whose artifact dir is tmp_path."""
    dst = tmp_path / "__spark_entry__.py"
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), dst)
    spec = importlib.util.spec_from_file_location(
        "_entry_under_test", str(dst)
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["_entry_under_test"] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.modules.pop("_entry_under_test", None)
    return mod


def _write(tmp_path, name, payload):
    with open(tmp_path / name, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)


def test_failed_entries_do_not_count_as_sampled(tmp_path):
    mod = _load_entry(tmp_path)
    ok = {"hash_match": True, "err": None}
    _write(tmp_path, "CORRECTNESS_r1.json", {
        "q_pass": ok,
        "q_hash_fail": {"hash_match": False, "err": None},
        "q_err": {"hash_match": None, "err": "boom"},
    })
    last = mod._last_sampled_round()
    assert last.get("q_pass") == 1
    assert "q_hash_fail" not in last
    assert "q_err" not in last


def test_later_pass_supersedes_earlier_fail_and_vice_versa(tmp_path):
    mod = _load_entry(tmp_path)
    _write(tmp_path, "CORRECTNESS_r1.json", {
        "q_a": {"hash_match": True, "err": None},
    })
    _write(tmp_path, "CORRECTNESS_r2.json", {
        "q_a": {"hash_match": False, "err": None},
    })
    last = mod._last_sampled_round()
    # The r2 failure does not erase the r1 pass, but it must not
    # advance the sampled round either: q_a sorts as if last checked
    # in r1, ahead of anything sampled in r2.
    assert last.get("q_a") == 1


def test_malformed_artifacts_are_skipped(tmp_path):
    mod = _load_entry(tmp_path)
    _write(tmp_path, "CORRECTNESS_r1.json", ["not", "a", "dict"])
    _write(tmp_path, "CORRECTNESS_r2.json", {
        "q_ok": {"hash_match": True, "err": None},
        "q_weird": "bare-string-record",
    })
    with open(tmp_path / "CORRECTNESS_r3.json", "w") as fh:
        fh.write("{truncated")
    last = mod._last_sampled_round()
    assert last == {"q_ok": 2, "q_weird": 2}


def test_repo_rotation_orders_never_sampled_first():
    # Against the real committed artifacts: every name the driver has
    # never sampled green must precede every name it has.
    sys.path.insert(0, REPO)
    try:
        import __spark_entry__ as entry
    finally:
        sys.path.pop(0)
    last = entry._last_sampled_round()
    ordered = list(entry.queries())
    seen_sampled = False
    for name in ordered:
        if name in last:
            seen_sampled = True
        else:
            assert not seen_sampled, (
                f"never-sampled {name} sorted after a sampled name"
            )


def test_repo_keeps_rotation_inputs():
    # The committed CORRECTNESS_r*.json files are the rotation's only
    # input; a cleanup that deletes them silently turns the rotation
    # into registry order.
    sys.path.insert(0, REPO)
    try:
        import __spark_entry__ as entry
    finally:
        sys.path.pop(0)
    assert set(entry._last_sampled_round()) & set(entry.queries())
