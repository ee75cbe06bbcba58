#!/usr/bin/env python
"""Driver-window hygiene tool (VERDICT r3 item 3).

The external driver verifies only the FIRST 50 entries of ``queries()``
per round, so the ordering of the registry IS the verification plan.
Rounds 1-3 curated that list by hand; this tool automates it so no entry
can silently miss its turn:

* ``snapshot``   — sha256 per registry entry over the query-fn source
                   PLUS the source of every in-package FUNCTION/CLASS the
                   fn transitively references (resolved through
                   ``fn.__globals__`` and imports inlined in the fn body)
                   and the repr of every module-level constant it reads.
                   Granularity is the OBJECT, not the file (VERDICT r5
                   item 2): adding a new entry to a jumbo query module no
                   longer marks every co-resident entry changed. When a
                   module is referenced but an attribute cannot be
                   resolved statically, the whole file is hashed as a
                   conservative fallback. ``registry.py`` is excluded:
                   the registration mechanism carries no query semantics,
                   and hashing it would mark ALL entries dirty on every
                   window rotation.
* ``state``      — ``tools/window_state.json``: per entry, the hash at
                   last driver green and the round that green happened
                   (latest CORRECTNESS_r*.json verdict wins; a rows-only
                   ``no_oracle`` record counts as its declared weaker
                   green).
* ``emit``       — the front-load list, deterministic:
                   (1) never-checked (no green in any round),
                   (2) changed-since-green (current hash != green hash),
                   (3) oldest-green ballast (ascending green round,
                   registration order within a round), capped at
                   ``--limit`` (default 50, the driver window).
                   Written to ``s3_kinesis_replay_spark/window.json``
                   which the registry loads and asserts against.

Usage:
  python tools/window_tool.py update-green   # after a CORRECTNESS lands
  python tools/window_tool.py emit           # regenerate window.json
  python tools/window_tool.py check          # exit 1 if window.json stale
"""

from __future__ import annotations

import ast
import functools
import hashlib
import inspect
import json
import os
import re
import sys
import textwrap
from pathlib import Path

# SKR_REPO_ROOT lets this script hash a DIFFERENT checkout's package (e.g.
# a git worktree at the last-green commit) to rebuild baseline hashes.
REPO = Path(os.environ.get("SKR_REPO_ROOT") or Path(__file__).resolve().parent.parent)
sys.path.insert(0, str(REPO))

STATE_PATH = REPO / "tools" / "window_state.json"
WINDOW_PATH = REPO / "s3_kinesis_replay_spark" / "window.json"
PKG = REPO / "s3_kinesis_replay_spark"

def _registration_order() -> dict:
    """The raw module-registration-order registry (NOT window-reordered)."""
    from s3_kinesis_replay_spark import registry as reg

    reg.all_queries()  # trigger module imports / registration
    return dict(reg._REGISTRY)


def _in_package(obj) -> bool:
    """True if obj's defining module lives in the package (registry.py
    excluded — registration mechanics carry no query semantics)."""
    mod = obj if inspect.ismodule(obj) else inspect.getmodule(obj)
    f = getattr(mod, "__file__", None)
    return bool(
        f and "s3_kinesis_replay_spark" in f and not f.endswith("registry.py")
    )


def _stable_repr(obj) -> str:
    """Deterministic-across-processes repr for module-level constants:
    sets are sorted, memory addresses stripped."""
    try:
        if isinstance(obj, (set, frozenset)):
            r = repr(sorted(obj, key=repr))
        else:
            r = repr(obj)
    except Exception:  # pragma: no cover — exotic reprs
        r = f"<unrepr {type(obj).__name__}>"
    return re.sub(r"0x[0-9a-fA-F]+", "0x", r)


def _container_callables(obj, depth: int = 0):
    """In-package functions/classes reachable inside a container constant
    (ADVICE r6: a dict mapping names to functions hashes identically across
    edits to those functions once addresses are stripped — queue the
    callables themselves so such edits still dirty dependents)."""
    if depth > 3:
        return
    vals = ()
    if isinstance(obj, dict):
        vals = list(obj.keys()) + list(obj.values())
    elif isinstance(obj, (list, tuple, set, frozenset)):
        vals = obj
    for v in vals:
        if inspect.isfunction(v) or inspect.isclass(v):
            if _in_package(v):
                yield v
        else:
            yield from _container_callables(v, depth + 1)


def _namespace_for(obj) -> dict:
    """Name-resolution namespace: fn globals, or the defining module's
    namespace for classes, extended by any in-package imports inlined in
    the object's own source."""
    g = getattr(obj, "__globals__", None)
    if g is None:
        mod = sys.modules.get(getattr(obj, "__module__", "") or "")
        g = vars(mod) if mod else {}
    return dict(g)


# obj -> (file stamps it was computed from, its own units, the in-package
# objects it references); reused while every stamped file is unchanged
_STEP_CACHE: dict = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _obj_step(obj, stamp) -> tuple[dict[str, str], list]:
    """One object's own content units (its source, the files of modules
    it references bare, the constants it reads) and the in-package
    functions/classes it references, in discovery order. Memoized per
    object, keyed by the (mtime, size) of every file read for it."""
    hit = _STEP_CACHE.get(obj)
    if hit is not None and all(stamp(f) == st for f, st in hit[0].items()):
        return hit[1], hit[2]
    import importlib

    files: dict[str, tuple[int, int] | None] = {}
    try:
        f = inspect.getfile(obj)
        files[f] = stamp(f)
    except TypeError:
        pass
    units: dict[str, str] = {}
    refs: list = []

    def read_file(f: str) -> str:
        files[f] = stamp(f)
        return Path(f).read_text(errors="replace")

    _STEP_CACHE[obj] = (files, units, refs)
    try:
        src = textwrap.dedent(inspect.getsource(obj))
    except (OSError, TypeError):
        return units, refs
    key = (
        f"{getattr(obj, '__module__', '?')}:"
        f"{getattr(obj, '__qualname__', getattr(obj, '__name__', '?'))}"
    )
    units[key] = src
    try:
        tree = ast.parse(src)
    except SyntaxError:  # pragma: no cover — sources always parse
        return units, refs
    g = _namespace_for(obj)
    # imports inlined in the body extend the namespace
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.module
            and node.module.startswith("s3_kinesis_replay_spark")
        ):
            try:
                m = importlib.import_module(node.module)
            except ImportError:  # pragma: no cover
                continue
            for a in node.names:
                g.setdefault(a.asname or a.name, getattr(m, a.name, m))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("s3_kinesis_replay_spark"):
                    try:
                        m = importlib.import_module(a.name)
                    except ImportError:  # pragma: no cover
                        continue
                    g.setdefault(a.asname or a.name.split(".")[0], m)
    # collect referenced names + per-module attribute uses
    attr_uses: dict[str, set[str]] = {}
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            attr_uses.setdefault(node.value.id, set()).add(node.attr)
            names.add(node.value.id)
        elif isinstance(node, ast.Name):
            names.add(node.id)
    owner = getattr(obj, "__module__", "?")
    for name in sorted(names):
        tgt = g.get(name)
        if tgt is None:
            continue
        if inspect.ismodule(tgt):
            if not _in_package(tgt):
                continue
            fallback = not attr_uses.get(name)  # bare module reference
            for attr in sorted(attr_uses.get(name, ())):
                sub = getattr(tgt, attr, None)
                if inspect.isfunction(sub) or inspect.isclass(sub):
                    if _in_package(sub):
                        refs.append(sub)
                elif inspect.ismodule(sub):
                    # dotted submodule access (pkg.submod.fn): hash the
                    # SUBMODULE's file, not just the parent package's —
                    # a parent-file fallback would leave dependents
                    # green across submodule edits (ADVICE r6)
                    sf = getattr(sub, "__file__", None)
                    if _in_package(sub) and sf:
                        units[f"file:{sub.__name__}"] = read_file(sf)
                    elif _in_package(tgt):
                        fallback = True
                elif sub is None:
                    fallback = True
                else:
                    units[f"{tgt.__name__}:{attr}"] = _stable_repr(sub)
                    refs.extend(_container_callables(sub))
            if fallback:
                f = getattr(tgt, "__file__", None)
                if f:
                    units[f"file:{tgt.__name__}"] = read_file(f)
        elif inspect.isfunction(tgt) or inspect.isclass(tgt):
            if _in_package(tgt):
                refs.append(tgt)
        elif callable(tgt) or inspect.isbuiltin(tgt):
            continue  # out-of-package callables (F.col, builtins, ...)
        else:
            # module-level constant read by this fn (could be a local
            # shadowing a global — a spurious-but-stable extra unit)
            units[f"const:{owner}:{name}"] = _stable_repr(tgt)
            refs.extend(_container_callables(tgt))
    return units, refs


def _obj_units(root_fn, stamp=_stamp) -> dict[str, str]:
    """qualname-keyed content units: the fn's own source plus, transitively
    at OBJECT granularity, every in-package function/class it references
    (via globals or inline imports) and the stable repr of every
    module-level constant it reads. A module referenced bare (or with an
    attribute that cannot be resolved) contributes its whole file as a
    conservative fallback."""
    units: dict[str, str] = {}
    seen: set[int] = set()
    queue = [root_fn]
    while queue:
        obj = queue.pop()
        if id(obj) in seen:
            continue
        seen.add(id(obj))
        own, refs = _obj_step(obj, stamp)
        units.update(own)
        queue.extend(refs)
    return units


def snapshot() -> dict[str, str]:
    """name -> hex digest over the fn source + the transitive OBJECT-level
    closure of in-package functions/classes/constants it references, so an
    edit anywhere in an operator's implementation chain marks every
    dependent query dirty — and ONLY the dependent queries (VERDICT r5
    item 2: a new entry added to a jumbo module no longer invalidates its
    co-residents)."""
    import linecache

    linecache.checkcache()  # pick up on-disk edits made after import
    stamp = functools.lru_cache(maxsize=None)(_stamp)  # one stat per file
    out: dict[str, str] = {}
    for name, q in _registration_order().items():
        units = _obj_units(q.fn, stamp)
        h = hashlib.sha256()
        for key in sorted(units):
            h.update(key.encode())
            h.update(b"\x00")
            h.update(units[key].encode())
            h.update(b"\x01")
        out[name] = h.hexdigest()[:16]
    return out


def _green_rounds() -> dict[str, int]:
    """Latest driver verdict per entry: round of the most recent green.

    Green = hash_match true, OR a declared rows-only record (err ==
    'no_oracle' with a row count) — the weaker green those entries can
    ever earn. A FAIL/ERR in a later round erases an earlier green.
    """
    greens: dict[str, int] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", path.name).group(1))
        for name, rec in json.loads(path.read_text()).items():
            ok = rec.get("hash_match") is True or (
                rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None
            )
            if ok:
                greens[name] = rnd
            else:
                greens.pop(name, None)
    return greens


def load_state() -> dict:
    if STATE_PATH.exists():
        state = json.loads(STATE_PATH.read_text())
        state.setdefault("rounds_seen", [])
        return state
    return {"green_hash": {}, "green_round": {}, "rounds_seen": []}


def unseen_rounds() -> list[int]:
    """CORRECTNESS rounds on disk that update-green has not ingested —
    non-empty means the state's hashes may postdate code edits, so run
    `python tools/window_tool.py update-green` BEFORE changing code."""
    state = load_state()
    on_disk = [
        int(re.search(r"r(\d+)", p.name).group(1))
        for p in REPO.glob("CORRECTNESS_r*.json")
    ]
    return sorted(set(on_disk) - set(state["rounds_seen"]))


def update_green() -> dict:
    """Refresh state from CORRECTNESS files: every newly-green entry
    records its hash AT THE EMIT THE DRIVER VERIFIED — looked up in the
    per-round history ``emit_hashes_by_round[round]`` (written by
    write_window, keyed by the round whose CORRECTNESS that emit will
    feed), falling back to the legacy single ``last_emit_hashes`` and
    finally to the current hash only for entries no emit ever saw
    (fresh clone edge case). The driver verifies the tree committed when
    the window was generated, so those are the verified hashes even if
    this command runs after round-N+1 edits have already landed.
    """
    cur = snapshot()
    greens = _green_rounds()
    state = load_state()
    by_round = state.get("emit_hashes_by_round", {})
    last = state.get("last_emit_hashes") or cur
    for name, rnd in greens.items():
        prev_round = state["green_round"].get(name)
        if prev_round != rnd or name not in state["green_hash"]:
            verified = by_round.get(str(rnd), last)
            state["green_hash"][name] = verified.get(name, cur.get(name, ""))
            state["green_round"][name] = rnd
    # drop entries that no longer exist in the registry
    state["green_hash"] = {k: v for k, v in state["green_hash"].items() if k in cur}
    state["green_round"] = {k: v for k, v in state["green_round"].items() if k in cur}
    state["rounds_seen"] = sorted(
        set(state.get("rounds_seen", []))
        | {
            int(re.search(r"r(\d+)", p.name).group(1))
            for p in REPO.glob("CORRECTNESS_r*.json")
        }
    )
    STATE_PATH.write_text(json.dumps(state, indent=1, sort_keys=True) + "\n")
    return state


def emit(limit: int = 50) -> list[str]:
    """Deterministic front-load list for the next driver window.

    r17: an optional committed ``tools/window_priority.json`` (a JSON
    list of entry names) hoists named entries to the FRONT of the
    changed tier, in file order. Rationale (VERDICT r16 item 2): a
    cross-cutting edit (a shared helper, the catalog loader) marks far
    more entries "changed" than one 50-slot window can hold, and plain
    registration order then crowds out exactly the entries whose
    OPERATOR code changed. The priority file is committed data, so the
    emit stays deterministic and `check`/tests recompute identically;
    it cannot promote anything past the never-checked tier, and a name
    that is not currently in the changed tier is simply ignored."""
    cur = snapshot()
    state = load_state()
    reg_order = list(_registration_order())

    never = [n for n in reg_order if n not in state["green_round"]]
    changed = [
        n
        for n in reg_order
        if n in state["green_round"] and state["green_hash"].get(n) != cur[n]
    ]
    prio_path = REPO / "tools" / "window_priority.json"
    if prio_path.exists():
        prio = [
            n for n in json.loads(prio_path.read_text()) if n in set(changed)
        ]
        changed = prio + [n for n in changed if n not in set(prio)]
    taken = set(never) | set(changed)
    ballast = sorted(
        (n for n in reg_order if n not in taken),
        key=lambda n: (state["green_round"][n], reg_order.index(n)),
    )
    window = (never + changed + ballast)[:limit]
    return window


def write_window(limit: int = 50, force: bool = False) -> list[str]:
    # Refuse to emit over un-ingested driver results: if a CORRECTNESS
    # round landed that update-green has not seen, overwriting the emit
    # hashes here would make update-green record POST-edit hashes as
    # "driver-verified" — code the driver never saw would be marked green
    # and silently drop out of the re-verify window (ADVICE r4, medium).
    pending = unseen_rounds()
    if pending and not force:
        sys.exit(
            f"REFUSING emit: CORRECTNESS rounds {pending} not yet ingested.\n"
            "Run `python tools/window_tool.py update-green` first "
            "(or pass --force if you know the emit hashes are still valid)."
        )
    window = emit(limit)
    WINDOW_PATH.write_text(
        json.dumps({"first": window, "limit": limit}, indent=1) + "\n"
    )
    # snapshot the hashes this window was generated against: the driver
    # verifies the round-end committed tree, so THESE are the hashes a
    # later update-green must record for newly-green entries. Keyed by
    # the round this emit will feed (max round seen so far + 1) so a
    # late-running update-green can still find the right snapshot even
    # after further emits.
    state = load_state()
    hashes = snapshot()
    state["last_emit_hashes"] = hashes
    next_round = max(
        set(state.get("rounds_seen", []))
        | {
            int(re.search(r"r(\d+)", p.name).group(1))
            for p in REPO.glob("CORRECTNESS_r*.json")
        }
        | {0},
    ) + 1
    history = state.setdefault("emit_hashes_by_round", {})
    history[str(next_round)] = hashes
    # keep the history bounded: only rounds not yet ingested matter
    for k in sorted(history, key=int)[:-8]:
        del history[k]
    STATE_PATH.write_text(json.dumps(state, indent=1, sort_keys=True) + "\n")
    return window


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "emit"
    if cmd == "update-green":
        state = update_green()
        print(f"state: {len(state['green_round'])} greens recorded")
    elif cmd == "snapshot-json":
        # machine-readable hashes — run with SKR_REPO_ROOT=<worktree> to
        # extract baseline hashes from a historical checkout
        print(json.dumps(snapshot(), indent=0, sort_keys=True))
    elif cmd == "rebase-hashes":
        # replace stored green hashes with ones from a snapshot-json file
        # (keeps green rounds): used when the hash ALGORITHM changes and
        # baselines must be recomputed against the last-green tree
        hashes = json.loads(Path(sys.argv[2]).read_text())
        state = load_state()
        state["green_hash"] = {
            k: hashes[k]
            for k in state["green_round"]
            if k in hashes
        }
        STATE_PATH.write_text(json.dumps(state, indent=1, sort_keys=True) + "\n")
        print(f"rebased {len(state['green_hash'])} green hashes")
    elif cmd == "emit":
        window = write_window(force="--force" in sys.argv[2:])
        print(f"window.json: {len(window)} entries; head={window[:5]}")
    elif cmd == "check":
        want = emit()
        have = (
            json.loads(WINDOW_PATH.read_text())["first"]
            if WINDOW_PATH.exists()
            else []
        )
        if want != have:
            print("window.json STALE — run `python tools/window_tool.py emit`")
            print(f" want head: {want[:8]}")
            print(f" have head: {have[:8]}")
            sys.exit(1)
        print("window.json up to date")
    else:
        sys.exit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
