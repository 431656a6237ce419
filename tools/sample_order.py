"""Derive the driver-sample priority order — the round-5 process miss
(a rewritten query shipping without a fresh driver CORRECTNESS row)
happened because queries/__init__.py `_SAMPLE_FIRST` was hand-curated.
This module computes, from git history + the recorded CORRECTNESS_r*.json
files, which registered queries are STALE-VERIFIED:

* never driver-sampled at all, or
* their implementation changed since the round of their last green row.

"Implementation" is fingerprinted at FUNCTION granularity so a 2,000-line
query module can change without flagging every query it hosts:

* the query fn's own decorated source (``@register(...)`` block included,
  so oracle/doc edits inline in the decorator count),
* the source of every function/constant the fn's source references that
  is importable inside the package (the repo convention:
  ``from hridaya_steam_market_tracker_spark.operators.X import name``
  at module top or inside the fn body), expanded TRANSITIVELY (round 7
  — the one-level walk missed a fixture-writer change two hops below
  the SPS queries), and
* simple module-level assignments any closed-over symbol references
  (shared oracle constants like ``_APSS_ORACLE`` / ``_TOKS_LOWER``).

The old text comes from ``git show <boundary>:<path>`` where
``<boundary>`` is the PARENT of the driver's "round N: ..." commit —
the exact tree the round-N correctness gate ran against. A name that
cannot be found in the old tree counts as changed.

`tests/test_sample_order.py` enforces head equality: the committed
`_SAMPLE_FIRST[:50]` must EQUAL ``suggested_head(50)`` exactly. The
transitive fingerprint legitimately flags more than 50 queries (a
shared-helper edit touches whole families), so flagged queries beyond
the 50-slot head are not an error — they rotate into later rounds in
the same derived order (never-sampled first, then oldest green row,
ties by registry order) as earlier cohorts get fresh driver rows. Run
this file directly to print the flagged set and the suggested head:

    python tools/sample_order.py
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys
from functools import lru_cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hridaya_steam_market_tracker_spark"

sys.path.insert(0, REPO)


def _committed_correctness() -> list[tuple[int, str]]:
    """(round, json text) for every CORRECTNESS_r*.json COMMITTED at HEAD.

    Round 8 structural fix: the order must derive from the committed
    tree, not the working tree — the driver drops each round's record
    as an untracked file, and a working-tree glob made the committed
    ``_SAMPLE_FIRST`` red with zero builder action at the start of
    every round. Reading ``git show HEAD:<file>`` means a new record
    can only change the derived order in the same commit that tracks
    it, so the regenerated head lands atomically alongside it."""
    ls = subprocess.run(
        ["git", "ls-tree", "--name-only", "HEAD"],
        capture_output=True, text=True, cwd=REPO,
    )
    if ls.returncode != 0:  # no git history: fall back to the worktree
        out = []
        for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            if m:
                with open(path) as f:
                    out.append((int(m.group(1)), f.read()))
        return out
    out = []
    for fname in sorted(ls.stdout.splitlines()):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        show = subprocess.run(
            ["git", "show", f"HEAD:{fname}"],
            capture_output=True, text=True, cwd=REPO,
        )
        if show.returncode == 0:
            out.append((int(m.group(1)), show.stdout))
    return out


def latest_green_round() -> dict[str, int]:
    """query name -> most recent round with any COMMITTED driver
    CORRECTNESS row (see _committed_correctness for why committed)."""
    latest: dict[str, int] = {}
    for rnd, text in _committed_correctness():
        for name in json.loads(text):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


@lru_cache(maxsize=None)
def round_boundary_commit(rnd: int) -> str | None:
    """The tree round `rnd`'s correctness gate ran against: the parent of
    the driver's "round N: ..." results commit."""
    out = subprocess.run(
        ["git", "log", "--format=%H %s", "--all"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout
    for line in out.splitlines():
        sha, _, subject = line.partition(" ")
        if re.match(rf"^round 0*{rnd}\b", subject):
            return subprocess.run(
                ["git", "rev-parse", f"{sha}^"],
                capture_output=True, text=True, cwd=REPO,
            ).stdout.strip() or None
    return None


@lru_cache(maxsize=None)
def _old_file(commit: str, relpath: str) -> str | None:
    p = subprocess.run(
        ["git", "show", f"{commit}:{relpath}"],
        capture_output=True, text=True, cwd=REPO,
    )
    return p.stdout if p.returncode == 0 else None


@lru_cache(maxsize=None)
def _current_file(relpath: str) -> str | None:
    path = os.path.join(REPO, relpath)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


# ast's own line split (only \r\n, \r and \n end a line), done once per file
_LINE_RE = re.compile(r"[^\r\n]*(?:\r\n|\r|\n)|[^\r\n]+")


def _segment(lines: list[str], node: ast.AST) -> str:
    """``ast.get_source_segment`` over lines split once: the stdlib
    re-splits the whole file char by char on every call, which made
    deriving the head take minutes on the large query modules."""
    first, last = node.lineno - 1, node.end_lineno - 1
    if first == last:
        return lines[first].encode()[node.col_offset : node.end_col_offset].decode()
    return (
        lines[first].encode()[node.col_offset :].decode()
        + "".join(lines[first + 1 : last])
        + lines[last].encode()[: node.end_col_offset].decode()
    )


@lru_cache(maxsize=None)
def _defs(source: str) -> dict[str, str]:
    """name -> source segment for every top-level def / simple assign."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return {}
    lines = _LINE_RE.findall(source)
    out: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = _segment(lines, node)
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    out[tgt.id] = _segment(lines, node)
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            out[node.target.id] = _segment(lines, node)
    return out


@lru_cache(maxsize=None)
def _function_segments(source: str) -> dict[str, str]:
    """name -> source segment INCLUDING the decorator block, for every
    top-level function (the first def of a repeated name wins), parsed
    once per file text."""
    try:
        tree = ast.parse(source)
    except SyntaxError:
        return {}
    lines = source.splitlines()
    out: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name not in out:
            start = min(
                [d.lineno for d in node.decorator_list] + [node.lineno]
            )
            out[node.name] = "\n".join(lines[start - 1 : node.end_lineno])
    return out


def _decorated_segment(source: str, fn_name: str) -> str | None:
    """Function source INCLUDING its decorator block (the @register call
    carries the oracle SQL and doc, which must count as implementation)."""
    return _function_segments(source).get(fn_name)


_IMPORT_RE = re.compile(
    rf"from\s+({PKG}(?:\.\w+)*)\s+import\s+\(?([\w,\s]+?)\)?\s*(?:#.*)?$",
    re.MULTILINE,
)


@lru_cache(maxsize=None)
def _package_imports(source: str) -> tuple[tuple[str, str], ...]:
    """All (module, name) pairs imported from inside the package."""
    pairs = []
    for mod, names in _IMPORT_RE.findall(source):
        for name in names.split(","):
            name = name.strip()
            if name and name != "*":
                pairs.append((mod, name.split(" as ")[0].strip()))
    return tuple(pairs)


def _mod_relpath(module: str) -> str:
    return module.replace(".", "/") + ".py"


_WORD_RE = re.compile(r"\w+")


def _expand_symbol(relpath: str, symbol: str, seen: set[tuple[str, str]]) -> None:
    """DFS one symbol's dependency edges into `seen`: package imports in
    its own source segment, module-top package imports it references,
    and same-module defs/constants it references — each expanded
    recursively, so a change buried N imports deep still lands in the
    fingerprint (round 7: the one-level walk missed the round-7 HEVC
    fixture-writer change two hops below the SPS queries)."""
    if (relpath, symbol) in seen:
        return
    seen.add((relpath, symbol))
    src = _current_file(relpath)
    if src is None:
        return
    seg = _symbol_source(src, symbol) or ""
    words = set(_WORD_RE.findall(seg))
    # package imports local to this symbol's body
    for dep_mod, dep_name in _package_imports(seg):
        _expand_symbol(_mod_relpath(dep_mod), dep_name, seen)
    # module-top package imports this symbol references
    for dep_mod, dep_name in _package_imports(src):
        if dep_name in words:
            _expand_symbol(_mod_relpath(dep_mod), dep_name, seen)
    # same-module defs/constants this symbol references
    for sym in _defs(src):
        if sym != symbol and sym in words:
            _expand_symbol(relpath, sym, seen)


def query_fingerprint_parts(name: str) -> list[tuple[str, str]]:
    """[(relpath, symbol)] making up the query's implementation — the
    TRANSITIVE closure of its in-package dependency graph (function
    granularity, cycle-safe)."""
    from hridaya_steam_market_tracker_spark.queries import load_all

    q = load_all()[name]
    seen: set[tuple[str, str]] = set()
    _expand_symbol(_mod_relpath(q.fn.__module__), q.fn.__name__, seen)
    return sorted(seen)


def _symbol_source(file_text: str | None, symbol: str) -> str | None:
    if file_text is None:
        return None
    seg = _decorated_segment(file_text, symbol)
    if seg is not None:
        return seg
    return _defs(file_text).get(symbol)


@lru_cache(maxsize=None)
def _normalize(src: str | None) -> str | None:
    """Comment- and docstring-insensitive comparison form: AST-unparse
    the segment with docstrings dropped, so cosmetic edits don't flag a
    query for re-sampling (the driver slot budget is 50/round — spend
    it on semantic changes). Unparseable segments compare raw."""
    if src is None:
        return None
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return src
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    try:
        return ast.unparse(tree)
    except Exception:
        return src


def changed_since(name: str, rnd: int) -> bool:
    """True iff any fingerprint part differs SEMANTICALLY (comments and
    docstrings normalized away) between the round-`rnd` boundary tree
    and the current worktree (missing-then counts as changed)."""
    commit = round_boundary_commit(rnd)
    if commit is None:
        return True
    for relpath, symbol in query_fingerprint_parts(name):
        now = _symbol_source(_current_file(relpath), symbol)
        then = _symbol_source(_old_file(commit, relpath), symbol)
        if _normalize(now) != _normalize(then):
            return True
    return False


def flagged_queries() -> dict[str, str]:
    """name -> reason, for every query needing a fresh driver row."""
    from hridaya_steam_market_tracker_spark.queries import load_all

    latest = latest_green_round()
    out: dict[str, str] = {}
    for name in load_all():
        rnd = latest.get(name)
        if rnd is None:
            out[name] = "never driver-sampled"
        elif changed_since(name, rnd):
            out[name] = f"implementation changed since round {rnd} row"
    return out


_COSTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "query_costs.json")
_DEFAULT_COST = 10.0  # median-ish; unknown queries sort mid-tier


def query_costs() -> dict[str, float]:
    """Measured per-query drive cost in seconds (sf0.01, the driver's
    correctness scale), from ``tools/query_costs.json`` — generated by
    parsing a full driver-contract drive log (see the file's
    ``_provenance`` key) and refreshed whenever a full drive runs.
    Absolute values are contention-noisy; only the ORDERING is
    consumed (cheap-first within a priority tier), for which run-to-run
    rank stability is plenty. Missing file -> empty (cost ordering
    degrades to the alphabetic tiebreak)."""
    try:
        with open(_COSTS_PATH) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return {k: float(v) for k, v in data.items() if not k.startswith("_")}


def suggested_head(cap: int = 50) -> list[str]:
    """Flagged queries first — never-driver-sampled ahead of stalest
    green round — then unflagged stalest greens, truncated to cap.
    Since the round-7 transitive-closure fingerprint, a change to a
    deep shared helper legitimately flags more queries than one
    50-slot sample holds; the priority sort makes the overflow a
    defined rotation (oldest evidence first) instead of a silent
    drop.

    Round 11: oracle-less (rows-only) queries sort BELOW every oracled
    query at the same flag/staleness level. Their driver row carries
    only rows>0 plus an ``err: no_oracle`` marker that reads as a
    failure in the raw record; the real value signal for each lives in
    its oracled ``*_checked`` twin and pytest, so a head slot spent on
    one buys almost nothing and costs record hygiene (round-10 verdict
    ask #7: zero err rows in the sampled head).

    Round 13 (the r12 empty-record lesson): WITHIN each priority tier
    the tiebreak is measured per-query cost, CHEAP FIRST
    (`query_costs`), so a time-budgeted or dying driver run records as
    many rows as possible before any cutoff — CORRECTNESS_r12 came
    back `{}` and a cost-blind head would have spent its first minutes
    on the most expensive twins. The tier structure (what NEEDS
    sampling) is untouched; cost only orders equals."""
    from hridaya_steam_market_tracker_spark.queries import load_all

    registry = load_all()
    latest = latest_green_round()
    flagged = flagged_queries()
    costs = query_costs()

    def rows_only(n: str) -> bool:
        return registry[n].oracle is None

    def cost(n: str) -> float:
        return costs.get(n, _DEFAULT_COST)

    flagged_order = sorted(
        flagged, key=lambda n: (rows_only(n), latest.get(n, -1), cost(n), n)
    )
    rest = sorted(
        (n for n in registry if n not in flagged),
        key=lambda n: (rows_only(n), latest.get(n, 0), cost(n), n),
    )
    merged = [n for n in flagged_order + rest if not rows_only(n)] + [
        n for n in flagged_order + rest if rows_only(n)
    ]
    return merged[:cap]


if __name__ == "__main__":
    flags = flagged_queries()
    print(json.dumps({"flagged": flags, "suggested_head": suggested_head()},
                     indent=1))
