"""Verification-window policy as an ENFORCED invariant (round-4 verdict
task 7).

The driver oracles only the FIRST 50 entries of ``__spark_entry__.
queries()`` each round, so dict order IS the coverage policy. Round 3
shipped 13 registered queries with no green CORRECTNESS row because the
registry tail was never rotated forward. These tests turn the
least-recently-verified-first rule into pytest failures instead of judge
archaeology:

1. every registry query WITHOUT a green row in the latest round must sit
   inside the next round's verification window (``queries()[:50]``);
2. no query that has ever been verified may go two consecutive rounds
   without a row (stale evidence must rotate forward before it ages).

A row counts as green when the value hash matches, or — for the
documented approximate queries — when the driver recorded its rows-only
check without error.
"""

from __future__ import annotations

import json
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
WINDOW = 50  # driver verifies queries()[:50] (observed r01-r03)


def _correctness_rounds() -> list[tuple[int, dict]]:
    out = []
    for path in REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        try:
            data = json.loads(path.read_text())
        except ValueError:
            continue
        if isinstance(data, dict) and data:
            out.append((int(m.group(1)), data))
    return sorted(out)


def _is_green(row: dict) -> bool:
    if not isinstance(row, dict):
        return False
    if row.get("hash_match") is True:
        return True
    # rows-only path for approximate queries: driver ran it, no error
    # beyond the deliberate missing oracle, and rows were produced
    return row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0


def _registry() -> list[str]:
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    return list(entry.queries())


def test_unverified_queries_sit_inside_next_window():
    rounds = _correctness_rounds()
    assert rounds, "no CORRECTNESS artifacts found"
    latest = rounds[-1][1]
    green = {q for q, row in latest.items() if _is_green(row)}
    names = _registry()
    window = set(names[:WINDOW])
    stale = [q for q in names if q not in green]
    out_of_window = [q for q in stale if q not in window]
    assert not out_of_window, (
        f"{len(out_of_window)} queries lack a green row in round "
        f"{rounds[-1][0]} AND sit outside queries()[:{WINDOW}] — reorder "
        f"the registry least-recently-verified-first: {out_of_window}"
    )


def test_aging_queries_lead_the_registry():
    """A query missing from BOTH of the last two CORRECTNESS rounds has
    aged past the policy bar; it must occupy the FRONT half of the next
    verification window so the coming round necessarily re-oracles it
    (merely sitting at position 49 would let one added query push it out
    again)."""
    rounds = _correctness_rounds()
    if len(rounds) < 2:
        return
    latest, prev = rounds[-1][1], rounds[-2][1]
    ever = set().union(*(set(d) for _n, d in rounds))
    names = _registry()
    front = set(names[: WINDOW // 2])
    aging = [
        q
        for q in names
        if q in ever and q not in latest and q not in prev
    ]
    misplaced = [q for q in aging if q not in front]
    assert not misplaced, (
        f"queries missing from CORRECTNESS rounds {rounds[-2][0]} and "
        f"{rounds[-1][0]} must sit inside queries()[:{WINDOW // 2}]: "
        f"{misplaced}"
    )


# ---------------------------------------------------------------------------
# Churn-aware staleness (round-4 verdict task 2): a query whose
# implementation files changed since its last green round must rotate
# into the next verification window — rotation age alone let the round-4
# EXTRACTED_SCHEMA widening ship with six consumers unverified.
# ---------------------------------------------------------------------------

import subprocess


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def _manifest() -> dict[str, list[str]]:
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from query_manifest import MANIFEST

    return MANIFEST


def compute_window_violations(
    names: list[str],
    window_size: int,
    needs_verify: set[str],
) -> list[str]:
    """Pure policy check. ``needs_verify`` = queries that are stale
    (no green row in the latest round) or CHURNED (implementation files
    changed since their last green round). If they all fit in the
    window, each must be inside it; if they overflow the window, every
    window slot must hold one of them (no slot wasted on a verified,
    unchurned query) — the overflow rotates forward next round."""
    window = set(names[:window_size])
    if len(needs_verify) <= window_size:
        return [q for q in names if q in needs_verify and q not in window]
    return [q for q in names[:window_size] if q not in needs_verify]


def test_compute_window_violations_flags_synthetic_churn():
    names = ["a", "b", "c", "d"]
    # 'd' churned but parked outside the 2-slot window -> violation
    assert compute_window_violations(names, 2, {"d"}) == ["d"]
    assert compute_window_violations(names, 2, {"a"}) == []
    # overflow: window slots must all be needs-verify members
    assert compute_window_violations(names, 2, {"b", "c", "d"}) == ["a"]
    assert compute_window_violations(["b", "c", "a", "d"], 2,
                                     {"b", "c", "d"}) == []


def test_every_registry_query_has_a_manifest_entry():
    manifest = _manifest()
    names = _registry()
    missing = [q for q in names if q not in manifest]
    assert not missing, (
        f"queries missing from tools/query_manifest.py: {missing}"
    )
    dead = [q for q in manifest if q not in names]
    assert not dead, f"manifest entries for unknown queries: {dead}"
    for q, files in manifest.items():
        for f in files:
            assert (REPO / f).exists(), f"{q}: manifest file {f} missing"


def test_churned_queries_sit_inside_next_window():
    rounds = _correctness_rounds()
    assert rounds
    manifest = _manifest()
    names = _registry()
    # latest green round per query
    last_green: dict[str, int] = {}
    for n, data in rounds:
        for q, row in data.items():
            if _is_green(row):
                last_green[q] = n
    # anchor commit per round = the commit that last touched its artifact
    anchors: dict[int, str] = {}
    for n, _data in rounds:
        out = _git(
            "log", "-n1", "--format=%H", "--", f"CORRECTNESS_r{n:02d}.json"
        ).strip()
        if out:
            anchors[n] = out
    changed_cache: dict[str, set[str]] = {}

    def changed_since(commit: str) -> set[str]:
        if commit not in changed_cache:
            diff = _git("diff", "--name-only", commit, "--",
                        "pdf_document_extractor_spark")
            untracked = _git("ls-files", "--others", "--exclude-standard",
                             "pdf_document_extractor_spark")
            changed_cache[commit] = set(
                (diff + untracked).splitlines()
            )
        return changed_cache[commit]

    latest_green = {
        q for q, row in rounds[-1][1].items() if _is_green(row)
    }
    needs_verify: set[str] = set()
    for q in names:
        n = last_green.get(q)
        if n is None or q not in latest_green:
            needs_verify.add(q)  # never green, or stale in latest round
            continue
        commit = anchors.get(n)
        if commit is None:
            continue  # artifact not committed yet: nothing to diff against
        if set(manifest[q]) & changed_since(commit):
            needs_verify.add(q)
    violations = compute_window_violations(names, WINDOW, needs_verify)
    assert not violations, (
        f"{len(violations)} queries are stale-or-churned but the window "
        f"placement violates the policy (needs_verify={len(needs_verify)}): "
        f"{violations}"
    )


def test_registry_order_ignores_round_artifacts(tmp_path):
    """__spark_entry__.queries() is one static order set at round start:
    no runtime policy reads the CORRECTNESS artifacts. Simulated here:
    write a synthetic next-round artifact marking the current window
    green, reload, and require the registry order to be unchanged."""
    import importlib
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    importlib.reload(entry)
    before = list(entry.queries())
    rounds = _correctness_rounds()
    next_n = rounds[-1][0] + 1 if rounds else 99
    synth = REPO / f"CORRECTNESS_r{next_n:02d}.json"
    assert not synth.exists(), "refusing to clobber a real artifact"
    try:
        synth.write_text(
            json.dumps(
                {q: {"hash_match": True, "spark_rows": 1} for q in before[:50]}
            )
        )
        importlib.reload(entry)
        assert list(entry.queries()) == before
    finally:
        synth.unlink(missing_ok=True)
        importlib.reload(entry)
