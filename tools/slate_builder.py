#!/usr/bin/env python3
"""Mechanical slate generation for the post-closure rotation policy.

Once every registry entry holds a green driver row (full-registry
certification, landed round 9), the DRIVER_SLATE's job changes from coverage
to REGRESSION SURVEILLANCE (COVERAGE.md "Post-closure rotation policy"):

  (a) standing canaries spanning every execution family — the same cheap
      entries every round, so a Spark/engine change shows as a red diff
      immediately;
  (b) an entry owing a re-cert (its live fingerprint differs from the one
      it was certified against, `flock_spark/entry_fingerprints.json`)
      jumps the staleness queue;
  (c) remaining slots are filled oldest-certified-first (ties broken by
      name) from `certified_rounds()`, so every entry re-certifies at least
      every ~7 rounds;
  (d) never-certified entries (new operators) take slots ahead of ALL
      re-certs, same as during the coverage era.

Drain-heavy entries (streaming micro-batch drains, memo-heavy audits) are
spread so no two sit adjacent — the driver sweep is cold-per-entry and
co-slated heavies have historically blown the per-entry budget.

Usage:
  python tools/slate_builder.py                      # print next-round slate
  python tools/slate_builder.py --slots 50           # explicit size
  python tools/slate_builder.py --changed            # entries owing a re-cert
  python tools/slate_builder.py --write-fingerprints # round close: record newest green rows
"""

from __future__ import annotations

import ast
import glob
import hashlib
import inspect
import json
import os
import re
import sys
import textwrap
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FINGERPRINT_PATH = os.path.join(ROOT, "flock_spark", "entry_fingerprints.json")

# (a) Standing canaries: one cheap certified entry per execution family.
STANDING_CANARIES: tuple[str, ...] = (
    "proj_arith",               # projection / scalar expressions
    "join_inner",               # shuffle / broadcast join
    "agg_basic",                # two-phase aggregate
    "window_running_sum",       # window frames
    "sort_limit_topk",          # sort / top-k
    "pandas_udaf_weighted_mean",  # Arrow / pandas UDF path
    "hll_sketch_portable",      # sketches
    "dedup_exact",              # dedup
    "zorder_layout_scan",       # layout / scan pruning
    "streaming_tumbling_agg",   # streaming micro-batch drain
)

# Entries whose FIRST execution in a cold-per-entry session is known heavy
# (memoized signatures / IVF assignment / big DuckDB CTE oracles / streaming
# state-store setup). Never slate two of these adjacent.
HEAVY_FIRST_EXECUTION: frozenset[str] = frozenset((
    "crawl_chain_end_to_end",  # WARC shard walk + 5-stage chain, ~9 s cold
    "dedup_lsh_band_tradeoff_audit",
    "analytics_friedman_test",  # ~9-12 s cold: six sequential scalar stages
    "dedup_lsh_recall_audit",
    "dedup_edit_distance_pairs",  # pays the minhash signature memo cold
    "graph_2hop_reach_hll_audit",
    "corpus_quality_dup_calibration",
    "ann_ivf_nprobe_recall_curve",
    "embedding_matryoshka_recall_audit",
    "items_cooccurrence_jaccard",
    "graph_label_prop_communities",
))


def _is_heavy(name: str) -> bool:
    return name in HEAVY_FIRST_EXECUTION or name.startswith("streaming_")


def _round(path: str) -> int:
    return int(re.search(r"r(\d+)\.json$", path).group(1))


def certified_rounds() -> dict[str, int]:
    """MOST RECENT fully-green round per entry across CORRECTNESS_r*.json
    (a re-certification refreshes the entry's staleness clock, which keeps
    the ~7-round rotation cadence). Raises on red after green."""
    files = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")), key=_round)
    if not files:
        raise FileNotFoundError("no CORRECTNESS_r*.json artifacts in repo root")
    derived: dict[str, int] = {}
    for f in files:
        with open(f) as fh:
            for name, r in json.load(fh).items():
                if r.get("rows_match") and r.get("schema_match") and r.get("hash_match"):
                    derived[name] = _round(f)
                elif name in derived:
                    raise ValueError(f"{name} red in round {_round(f)} after green in {derived[name]}")
    return derived


def _source(obj) -> str:
    """Source text of a function, class or module ("" when it has none)."""
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):
        return ""


def _unwrap(v):
    """The function behind a method or a decorator/UDF (``__wrapped__``)."""
    return inspect.unwrap(getattr(v, "__func__", v))


def _defaults_code(fn) -> types.CodeType:
    """Code of a function's default-argument expressions. Defaults are
    evaluated in the enclosing scope, so a constant used only as a default
    (``cap: int = CAP``) is not among the function's own ``co_names``."""
    try:  # a lambda's source line is not always a statement
        tree = ast.parse(textwrap.dedent(_source(fn)))
    except SyntaxError:
        tree = ast.Module([], [])
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
    f = next((n for n in ast.walk(tree) if isinstance(n, defs)), None)
    exprs = [*f.args.defaults, *filter(None, f.args.kw_defaults)] if f else []
    tree = ast.fix_missing_locations(ast.Expression(ast.Tuple(exprs, ast.Load())))
    return compile(tree, "<defaults>", "eval")


def _assignments(mod: str) -> dict[str, str]:
    """Top-level name -> source of the statements binding it (assignments,
    and ``from ... import``, which the walk follows to the name's home)."""
    src = _source(sys.modules[mod])
    lines, out = src.splitlines(), {}
    for s in ast.parse(src).body:
        if isinstance(s, (ast.FunctionDef, ast.ClassDef)):
            continue
        stores = (n.id for n in ast.walk(s) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store))
        for name in [a.asname or a.name for a in s.names] if isinstance(s, ast.ImportFrom) else stores:
            out[name] = out.get(name, "") + "\n".join(lines[s.lineno - 1:s.end_lineno]) + "\n"
    return out


def entry_fingerprints() -> dict[str, str]:
    """sha256 over the sorted (key, source) pairs of everything an entry
    reaches: its oracle SQL and every flock_spark function, class and
    module-level constant its callable refers to, transitively. Constants
    hash their top-level assignments' source, so runtime state (memo tables,
    counters) never moves a fingerprint. A changed hash means re-certify."""
    from flock_spark.registry import REGISTRY, QuerySpec, _load_all

    _load_all()
    memo: dict = {}  # this call only: node(x) per object, _assignments() per module

    def refs(code, ns: dict) -> list:
        """What the names in ``code`` and its nested code resolve to in the
        module ``ns`` and in every flock_spark module they name (function-
        local imports, module aliases); REGISTRY["x"] reaches entry x."""
        names, consts, codes = set(), set(), [code]
        while codes:
            c = codes.pop()
            names.update(c.co_names)
            consts.update(c.co_consts)
            codes += [k for k in c.co_consts if isinstance(k, types.CodeType)]
        spaces, out = [ns, sys.modules], []  # sys.modules resolves import names
        for space in spaces:  # grows as module aliases turn up
            for n in names & space.keys():
                v = space[n]
                if isinstance(v, types.ModuleType):
                    if v.__name__.startswith("flock_spark") and all(vars(v) is not s for s in spaces):
                        spaces.append(vars(v))
                elif v is REGISTRY:
                    out += [REGISTRY[k] for k in consts if k in REGISTRY]
                elif isinstance(v := _unwrap(v), (types.FunctionType, type)):
                    out.append(v)
                elif space.get("__name__", "").startswith("flock_spark"):
                    out.append((space["__name__"], n))
        return out

    def node(x) -> tuple:
        """(key, source) of one reachable object, and what it refers to."""
        if isinstance(x, tuple):  # (module, name) of a module-level constant
            defs = memo[x[0]] = memo.get(x[0]) or _assignments(x[0])
            if x[1] not in defs:
                return None, []
            text = defs[x[1]]
            return (".".join(x), text), refs(compile(text, x[0], "exec"), vars(sys.modules[x[0]]))
        if isinstance(x, QuerySpec):
            return (f"REGISTRY[{x.name!r}].oracle", x.oracle or ""), [x.fn]
        if not (isinstance(x, (types.FunctionType, type)) and str(x.__module__).startswith("flock_spark")):
            return None, []
        if isinstance(x, type):
            vals, more = [*x.__bases__, *vars(x).values()], []
        else:
            try:
                vals = [c.cell_contents for c in x.__closure__ or ()] + [*(x.__defaults__ or ())]
            except ValueError:  # a cell not yet bound
                vals = []
            more = refs(x.__code__, x.__globals__)
            if x.__defaults__ or x.__kwdefaults__:
                more += refs(_defaults_code(x), x.__globals__)
        fns = [v for v in map(_unwrap, vals) if isinstance(v, (types.FunctionType, type))]
        return (f"{x.__module__}.{x.__qualname__}", _source(x)), fns + more

    fps: dict[str, str] = {}
    for name, spec in REGISTRY.items():
        seen, todo = {}, [spec]
        while todo:
            x = todo.pop()
            k = x if isinstance(x, tuple) else id(x)
            if k not in seen:
                seen[k] = memo[k] = memo[k] if k in memo else node(x)
                todo += seen[k][1]
        pairs = repr(sorted(pair for pair, _ in seen.values() if pair))
        fps[name] = hashlib.sha256(pairs.encode()).hexdigest()
    return fps


def changed_entries() -> list[str]:
    """Registry entries whose live fingerprint differs from the one they
    were certified against (or that have none): the re-cert debt."""
    with open(FINGERPRINT_PATH) as fh:
        baseline = json.load(fh)
    return sorted(n for n, fp in entry_fingerprints().items() if baseline.get(n) != fp)


def write_fingerprints() -> list[str]:
    """Round close: record the live fingerprint of every entry green in the
    newest CORRECTNESS artifact. Every other entry keeps the fingerprint it
    was last certified against, so the fold never clears unpaid debt."""
    newest = max(map(_round, glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))))
    live = entry_fingerprints()
    folded = sorted(n for n, rn in certified_rounds().items() if rn == newest and n in live)
    with open(FINGERPRINT_PATH) as fh:
        baseline = json.load(fh)
    baseline.update({n: live[n] for n in folded})
    with open(FINGERPRINT_PATH, "w") as fh:
        json.dump(baseline, fh, indent=0, sort_keys=True)
    return folded


def build_slate(slots: int = 50) -> list[str]:
    """Next-round slate per rules (a)-(d), heavies spread non-adjacent."""
    from flock_spark.registry import REGISTRY, _load_all

    _load_all()
    rounds = certified_rounds()
    never = [n for n in REGISTRY if n not in rounds]
    owed = [n for n in changed_entries() if n in rounds]
    stale = sorted((n for n in rounds if n in REGISTRY), key=lambda n: (rounds[n], n))
    # first occurrence wins: a canary or owed entry is not slated twice
    ordered = list(dict.fromkeys([*STANDING_CANARIES, *never, *owed, *stale]))[:slots]
    return _spread_heavies(ordered)


def _spread_heavies(names: list[str]) -> list[str]:
    """Reorder so no two heavy entries are adjacent (keeps relative order of
    each class; falls back gracefully if heavies outnumber light gaps)."""
    heavy = [n for n in names if _is_heavy(n)]
    light = [n for n in names if not _is_heavy(n)]
    if not heavy:
        return names
    if len(heavy) > len(light):
        return names  # not enough lights to separate every pair
    # Evenly distribute: heavy i goes after light number (i+1)*L//H. With
    # H <= L those positions are strictly increasing (step >= floor(L/H)
    # >= 1), so no two heavies are ever adjacent — the previous fixed-gap
    # walk stranded the leftover heavies in a consecutive tail whenever
    # H did not divide L.
    out: list[str] = []
    pos = {((i + 1) * len(light)) // len(heavy): h for i, h in enumerate(heavy)}
    for i, n in enumerate(light, start=1):
        out.append(n)
        if i in pos:
            out.append(pos[i])
    return out


def main() -> None:
    args = sys.argv[1:]
    if "--write-fingerprints" in args:
        folded = write_fingerprints()
        print(f"folded {len(folded)} certified fingerprints into {FINGERPRINT_PATH}")
        return
    if "--changed" in args:
        ch = changed_entries()
        print("\n".join(ch) if ch else "(no entries changed vs baseline)")
        return
    slots = 50
    if "--slots" in args:
        slots = int(args[args.index("--slots") + 1])
    slate = build_slate(slots)
    print("DRIVER_SLATE: tuple[str, ...] = (")
    for n in slate:
        marker = "  # heavy" if _is_heavy(n) else ""
        print(f'    "{n}",{marker}')
    print(")")


if __name__ == "__main__":
    main()
