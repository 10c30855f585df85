"""Driver-window rotation discipline (tools/rotate_window.py).

The driver's correctness gate scores the first 50 registry entries per
round; round 9 shipped without rotating `_DRIVER_WINDOW_FIRST` and
burned its 50 slots re-proving already-green entries (VERDICT r9 #1).
This test is the round-opening checklist item in executable form: when
a new CORRECTNESS_r{N}.json lands (i.e. a new round starts), the window
computed from the scoring history changes and this test FAILs (with a
loud console warning) until `python tools/rotate_window.py` output is
pasted into registry.py.  It once carried ``xfail(strict=False)``
(VERDICT r12 nit #2), but a non-strict xfail can never fail, so a
stale window went unnoticed; it is a plain test again.
No Spark session needed — pure JSON + registry import.
"""

import sys
import warnings

sys.path.insert(0, "/root/repo/tools") if "/root/repo/tools" not in sys.path else None

from rotate_window import canonical_window, scored_rounds  # noqa: E402


def test_driver_window_is_canonical():
    import __spark_entry__ as e
    from popelines_spark.registry import _DRIVER_WINDOW_FIRST

    want = canonical_window(list(e.queries()), scored_rounds())
    if list(_DRIVER_WINDOW_FIRST) != want:
        warnings.warn(
            "\n" + "=" * 70 + "\n"
            "DRIVER WINDOW IS STALE FOR THIS ROUND.\n"
            "Run `python tools/rotate_window.py` and paste the printed tuple\n"
            "into popelines_spark/registry.py:_DRIVER_WINDOW_FIRST.\n"
            + "=" * 70,
            stacklevel=1,
        )
    assert list(_DRIVER_WINDOW_FIRST) == want, (
        "driver correctness window is stale for this round — run "
        "`python tools/rotate_window.py` and paste the printed tuple "
        "into popelines_spark/registry.py:_DRIVER_WINDOW_FIRST"
    )


def test_window_prefers_never_scored_then_stalest():
    """The canonical rule itself: never-scored first (registry order),
    then ascending (latest-green round, id)."""
    ids = ["a", "b", "c", "d", "e"]
    latest = {"a": 3, "c": 1, "d": 2}
    assert canonical_window(ids, latest) == ["b", "e", "c", "d", "a"]
