"""Driver-side memo for df-independent Column fragments (r11
optimization; guide §7.3 — planning/driver overhead).

A PySpark Column is an immutable UNRESOLVED expression tree wrapping a
Java object; Catalyst re-resolves it per plan, so the same Column
object can be embedded in any number of DataFrames.  Constructing deep
fragments (HOF folds, unrolled dot products, wide aggregate lists)
costs one py4j round-trip (~0.3 ms of pure driver latency) per Column
method call — hundreds to thousands per operator build — and query
builders re-run on every bench rep and driver invocation.  Memoizing
the finished fragments by their SCALAR parameters removes that cost
without changing what any plan computes: results and plans are
byte-identical because they embed the very same expression objects.

Rules for call sites:
- key on every parameter that influences the expression (names, ints,
  direction flags) — never on Column objects (no stable identity);
- only cache fragments built from literals/column NAMES, never ones
  closing over a DataFrame;
- the cache is automatically scoped to the live SparkContext, so a
  session restart within one process can never serve stale Java refs.

Beside it, :func:`memo_result` keeps the driver-side RESULTS of the
CLI's Spark actions (row count, categories, bounds, the binned table)
per plan, action and input-file stamp, within a byte budget: a request
that only re-styles an earlier binning runs no Spark job.  Both caches
follow the live SparkContext.
"""

from __future__ import annotations

from collections import OrderedDict

_CACHE: dict = {}

#: Entry cap (ADVICE r11): a few sites key on data-derived values
#: (centroid tuples, per-iteration weight vectors), so a long-lived
#: driver would otherwise accumulate Column trees + py4j object refs
#: without bound.  The whole registry builds ~1k distinct fragments;
#: 8192 leaves an order of magnitude of headroom, and a full clear on
#: overflow is correct by construction (it is a pure cache).
_MAX_ENTRIES = 8192

#: Token of the SparkContext the current cache contents belong to.
#: PySpark keeps ``SparkContext._gateway`` across ``stop()``, so the
#: gateway cannot tell a restarted session from the old one; each
#: SparkContext object is new per session.  Keying on ``id(sc)`` could
#: alias a new context onto a dead one's key after garbage collection
#: reused the id, so a sentinel object ATTACHED to the context is used:
#: a new context lacks the attribute, gets a fresh token, and the stale
#: entries are dropped wholesale.
_OWNER_TOKEN: object | None = None


def _own_context() -> None:
    """Drop every entry of both caches when the live SparkContext is
    not the one they were made under."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    global _OWNER_TOKEN
    tok = None
    if sc is not None:
        tok = getattr(sc, "_shadems_memo_token", None)
        if tok is None:
            tok = sc._shadems_memo_token = object()
    if tok is not _OWNER_TOKEN:
        _CACHE.clear()
        _RESULTS.clear()
        _OWNER_TOKEN = tok


def memo(key: tuple, build):
    """Return ``build()`` cached under ``key`` (+ the live SparkContext)."""
    _own_context()
    col = _CACHE.get(key)
    if col is None:
        if len(_CACHE) >= _MAX_ENTRIES:
            _CACHE.clear()
        col = _CACHE[key] = build()
    return col


#: Driver-side results of Spark actions: (action, input stamp, plan
#: hash) -> (DataFrame, result, bytes), least recently used first.  A
#: request that only re-styles an earlier binning (another norm, colour
#: map, figure or spread) meets the same plans over the same files, and
#: its actions are served from here without a Spark job.
_RESULTS: OrderedDict = OrderedDict()

#: Byte budget of ``_RESULTS``, counted in Arrow ``nbytes`` (collected
#: rows count 0: a bounds or categories result is a few rows).  Seven
#: 1280x900 binned tables of ~300k pixels fit.  The entry cap bounds
#: the plans (py4j references) kept for small results; a CLI request
#: keeps at most four.
_RESULT_BYTES = 64 * 2**20
_RESULT_ENTRIES = 256


def memo_result(df, action: str, stamp, run):
    """Return ``run()``, the driver-side result of the Spark action
    ``action`` over ``df``, kept for the live SparkContext.

    A kept result is served when the same action meets the same plan
    over unchanged input files: ``stamp`` identifies the input files
    (``catalog.table_stamp``), since two reads of one path have the
    same plan after a file changed.  The plan is looked up by
    ``df.semanticHash()`` and confirmed with ``df.sameSemantics``, the
    hash being only 32 bits (a colliding plan replaces the entry).  A
    failed action raises and is not kept; a result over the byte
    budget is returned but not kept.
    """
    _own_context()
    key = (action, stamp, df.semanticHash())
    kept = _RESULTS.get(key)
    if kept is not None and df.sameSemantics(kept[0]):
        _RESULTS.move_to_end(key)
        return kept[1]
    result = run()
    size = getattr(result, "nbytes", 0)
    if size <= _RESULT_BYTES:
        _RESULTS[key] = (df, result, size)
        _RESULTS.move_to_end(key)
        while len(_RESULTS) > _RESULT_ENTRIES or sum(s for _df, _r, s in _RESULTS.values()) > _RESULT_BYTES:
            _RESULTS.popitem(last=False)
    return result


def clear_results() -> None:
    """Forget every kept action result (the next action runs its job)."""
    _RESULTS.clear()
