"""Window-hygiene tool (tools/window_tool.py) — VERDICT r3 item 3.

The driver verifies only the first 50 queries() entries per round, so the
emitted window is load-bearing: these tests pin that it is deterministic,
fresh (matches current source hashes), and typo-proof in the registry.
"""

import json
from pathlib import Path

import pytest

from tools import window_tool
from s3_kinesis_replay_spark import registry

REPO = Path(__file__).resolve().parent.parent


def test_emit_is_deterministic():
    assert window_tool.emit() == window_tool.emit()


def test_update_green_records_emit_time_hashes(tmp_path, monkeypatch):
    """A round's CORRECTNESS verdicts apply to the tree committed when the
    window was emitted — update-green must record THOSE hashes for
    newly-green entries, so running it after next-round edits have landed
    cannot mask an entry's changed-since-green status."""
    state_path = tmp_path / "state.json"
    state_path.write_text(
        json.dumps(
            {
                "green_hash": {},
                "green_round": {},
                "rounds_seen": [],
                "last_emit_hashes": {"b1_project": "emit-time-hash"},
            }
        )
    )
    monkeypatch.setattr(window_tool, "STATE_PATH", state_path)
    monkeypatch.setattr(window_tool, "_green_rounds", lambda: {"b1_project": 99})
    state = window_tool.update_green()
    assert state["green_hash"]["b1_project"] == "emit-time-hash"


def test_window_json_fresh():
    """window.json must match a fresh emit — if a query fn (or a helper it
    references) changed since the file was generated, this fails, which is
    the reminder to re-run `python tools/window_tool.py emit`."""
    want = window_tool.emit()
    have = json.loads((REPO / "s3_kinesis_replay_spark" / "window.json").read_text())
    assert have["first"] == want, "window.json stale — run tools/window_tool.py emit"


def test_window_tiers():
    """Never-checked entries lead, then changed-since-green, then ballast
    ordered by ascending green round."""
    state = window_tool.load_state()
    cur = window_tool.snapshot()
    window = window_tool.emit()
    assert len(window) <= 50
    # every name resolves
    qs = registry.all_queries()
    assert set(window) <= set(qs)
    # never-checked strictly precede any green entry
    greens = state["green_round"]
    seen_green = False
    for name in window:
        if name in greens and state["green_hash"].get(name) == cur[name]:
            seen_green = True
        elif name not in greens:
            assert not seen_green, f"never-checked {name} after a green entry"


def test_all_queries_order_matches_window():
    first = json.loads(
        (REPO / "s3_kinesis_replay_spark" / "window.json").read_text()
    )["first"]
    assert list(registry.all_queries())[: len(first)] == first


def test_registry_asserts_on_unknown_window_name(monkeypatch):
    # explicit ValueError (not assert) so the diagnostic survives python -O
    monkeypatch.setattr(registry, "_window_first", lambda: ["no_such_query"])
    with pytest.raises(ValueError, match="no_such_query"):
        registry.all_queries()


def test_helper_change_marks_dependent_dirty(tmp_path, monkeypatch):
    """Editing the BODY of a referenced operators/ helper flips the
    dependent entry's hash, so it would be front-loaded on the next emit.
    The edit keeps line numbers stable (inspect resolves source by line)
    and changes a function that i13's ivf_topk transitively calls."""
    before = window_tool.snapshot()
    sim = REPO / "s3_kinesis_replay_spark" / "operators" / "similarity.py"
    orig = sim.read_text()
    marker = "def _probe_cells(centers_rows, query_vec, n_probe):"
    assert marker in orig
    try:
        sim.write_text(orig.replace(marker, marker[:-2] + " ):", 1))
        after = window_tool.snapshot()
    finally:
        sim.write_text(orig)
    for name in ("i13_ivf_topk", "i13b_ivf_probe", "i13d_ivf_batch_probe"):
        assert before[name] != after[name], name
    # an entry with no similarity dependency is unaffected
    assert before["b1_project"] == after["b1_project"]


def test_new_entry_does_not_dirty_coresidents(tmp_path, monkeypatch):
    """VERDICT r5 item 2: hashing is object-granular, so appending a new
    function to a jumbo query module must NOT change any existing entry's
    hash (in round 5 one new custom_ops entry invalidated ~15 greens)."""
    before = window_tool.snapshot()
    mod = REPO / "s3_kinesis_replay_spark" / "queries" / "custom_ops.py"
    orig = mod.read_text()
    try:
        mod.write_text(orig + "\n\ndef _blast_radius_probe():\n    return 1\n")
        after = window_tool.snapshot()
    finally:
        mod.write_text(orig)
    changed = [k for k in before if before[k] != after[k]]
    assert changed == [], f"co-residents dirtied: {changed}"


def test_emit_refuses_over_unseen_rounds(tmp_path, monkeypatch):
    """write_window must refuse when a CORRECTNESS round landed that
    update-green has not ingested — overwriting the emit hashes then
    would let update-green mark post-edit code as driver-verified
    (ADVICE r4). --force overrides."""
    monkeypatch.setattr(window_tool, "unseen_rounds", lambda: [99])
    with pytest.raises(SystemExit, match="REFUSING emit"):
        window_tool.write_window()


def test_update_green_prefers_per_round_emit_hashes(tmp_path, monkeypatch):
    """With emit-hash history, a green in round R uses the hashes of the
    emit that fed round R, not whatever emit ran last."""
    state_path = tmp_path / "state.json"
    state_path.write_text(
        json.dumps(
            {
                "green_hash": {},
                "green_round": {},
                "rounds_seen": [],
                "last_emit_hashes": {"b1_project": "later-emit-hash"},
                "emit_hashes_by_round": {"7": {"b1_project": "round7-emit-hash"}},
            }
        )
    )
    monkeypatch.setattr(window_tool, "STATE_PATH", state_path)
    monkeypatch.setattr(window_tool, "_green_rounds", lambda: {"b1_project": 7})
    state = window_tool.update_green()
    assert state["green_hash"]["b1_project"] == "round7-emit-hash"


import s3_kinesis_replay_spark.operators as _ops_pkg  # noqa: E402
import s3_kinesis_replay_spark.operators.similarity  # noqa: E402,F401


def test_dotted_submodule_access_hashes_submodule_file():
    """ADVICE r6 item 1: `pkg.submod.fn(...)` access must contribute the
    SUBMODULE's file to the hash closure, not just the parent package's
    __init__ — otherwise a submodule edit leaves dependents green."""

    def probe():
        return _ops_pkg.similarity.data_fingerprint("/nonexistent")

    units = window_tool._obj_units(probe)
    assert "file:s3_kinesis_replay_spark.operators.similarity" in units


_CALLABLE_MAP = None  # populated by the test to exercise the const branch


def test_container_constant_queues_inner_callables():
    """ADVICE r6 item 2: a dict constant mapping names to in-package
    functions must queue those functions for source hashing — address
    stripping otherwise makes the constant's repr edit-invariant."""
    from s3_kinesis_replay_spark.operators.similarity import data_fingerprint

    global _CALLABLE_MAP
    _CALLABLE_MAP = {"fp": data_fingerprint}

    def probe():
        return _CALLABLE_MAP["fp"]("/nonexistent")

    units = window_tool._obj_units(probe)
    key = "s3_kinesis_replay_spark.operators.similarity:data_fingerprint"
    assert key in units and "def data_fingerprint" in units[key]


def test_sql_statement_handlers_are_hash_units():
    """Every handler in catalog's SQL statement table is a unit of the
    resolve_dml hash closure, and reaches its table_format verbs there,
    so editing a handler or a verb marks the DML entries changed. The
    tool does not follow closure cells: a handler wrapped in a closure,
    lambda or functools.partial would hide its body from the hash."""
    import inspect

    from s3_kinesis_replay_spark import catalog

    units = window_tool._obj_units(catalog.resolve_dml)
    for _pattern, handler, _needs in catalog._STATEMENTS:
        assert inspect.isfunction(handler) and handler.__closure__ is None
        assert getattr(catalog, handler.__name__) is handler
        assert f"{catalog.__name__}:{handler.__qualname__}" in units
    tf = "s3_kinesis_replay_spark.operators.table_format"
    for verb in ("snapshot_delete_where", "snapshot_detail",
                 "snapshot_partitions", "refresh_dependent_views"):
        assert f"{tf}:{verb}" in units
