"""Lockstep guard for exprs.py: every paired (Column, *_SQL) helper must
produce IDENTICAL values in Spark and DuckDB over a grid of adversarial
inputs — half-ties, negatives, denormal-ish magnitudes, rates at the
2^-21 lpad-truncation boundary. This is the contract the module
docstring states; this test makes drift between the two forms fail CI
instead of failing a driver hash three rounds later."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pytest

from pyspark.sql import functions as F

from data_integration_tool_spark.exprs import (
    CENTS_SQL,
    HASH_CUTOFF_SQL,
    MICRO_SQL,
    cents,
    hash_cutoff,
    micro,
)

# Adversarial grid: exact half-ties in both units (where floor(x+0.5)
# and round() disagree), negative ties, values whose *1e6 product sits
# on a representability edge, and plain magnitudes.
_VALUES = [
    0.0, 1.0, -1.0, 0.5, -0.5,
    0.0000005, -0.0000005,          # micro half-tie
    0.0000015, -0.0000015,
    0.005, -0.005,                  # cents half-tie
    0.015, -0.025,
    123.456789, -123.456789,
    1e-9, -1e-9, 1e6, -1e6,
    3.141592653589793, -2.718281828459045,
    999999.9999995, 0.1 + 0.2,      # classic float artifacts
]

_RATES = [
    0.0, 0.1, 0.25, 0.5, 0.9, 0.999, 0.9999999,
    1.0 - 2.0 ** -21,               # the lpad-truncation boundary
    1.0 - 2.0 ** -22,
    1.0 - 2.0 ** -20,
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _spark_eval(spark, col, values, colname="x"):
    df = spark.createDataFrame([(v,) for v in values], f"{colname} double")
    return [r.out for r in df.select(col.alias("out")).collect()]


def test_micro_lockstep(spark, duck):
    got_spark = _spark_eval(spark, micro(F.col("x")), _VALUES)
    got_duck = [
        duck.execute(
            f"SELECT {MICRO_SQL.format(x='CAST(? AS DOUBLE)')}", [v]
        ).fetchone()[0]
        for v in _VALUES
    ]
    assert got_spark == got_duck


def test_cents_lockstep(spark, duck):
    got_spark = _spark_eval(spark, cents(F.col("x")), _VALUES)
    got_duck = [
        duck.execute(
            f"SELECT {CENTS_SQL.format(x='CAST(? AS DOUBLE)')}", [v]
        ).fetchone()[0]
        for v in _VALUES
    ]
    assert got_spark == got_duck


def test_hash_cutoff_lockstep(spark, duck):
    got_spark = _spark_eval(spark, hash_cutoff(F.col("x")), _RATES)
    got_duck = [
        duck.execute(
            f"SELECT {HASH_CUTOFF_SQL.format(rate='CAST(? AS DOUBLE)')}", [v]
        ).fetchone()[0]
        for v in _RATES
    ]
    assert got_spark == got_duck
    # every cutoff is exactly 8 hex chars (the truncation bug class)
    assert all(len(c) == 8 for c in got_spark)


REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "data_integration_tool_spark"


def _is_f(node, name):
    """``node`` is the call ``F.<name>(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _number(node):
    """The value of a literal or of ``F.lit(<literal>)``, else None."""
    if _is_f(node, "lit") and len(node.args) == 1:
        node = node.args[0]
    return node.value if isinstance(node, ast.Constant) else None


def test_quantize_only_through_helpers():
    """Builder Column code quantises to micro-units and cents only
    through ``micro`` and ``cents``, so the rounding rule has one home:
    no ``F.floor(<x> * <1e6 | 100> + 0.5)`` outside exprs.py."""
    hits = []
    for py in sorted(PACKAGE.rglob("*.py")):
        if py.name == "exprs.py":
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            if not (_is_f(node, "floor") and len(node.args) == 1):
                continue
            arg = node.args[0]
            if (
                isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Add)
                and _number(arg.right) == 0.5
                and isinstance(arg.left, ast.BinOp)
                and isinstance(arg.left.op, ast.Mult)
                and _number(arg.left.right) in (1e6, 100)
            ):
                hits.append(f"{py.relative_to(REPO)}:{node.lineno}")
    assert not hits, (
        f"{len(hits)} inline floor(x * scale + 0.5) sites; "
        "call exprs.micro / exprs.cents instead:\n" + "\n".join(hits)
    )


def _sorts_desc(node):
    """``node`` is a descending sort key: ``F.desc(x)``,
    ``F.desc_nulls_*(x)`` or ``<expr>.desc()`` / ``.desc_nulls_*()``."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    if not node.func.attr.startswith("desc"):
        return False
    f_call = isinstance(node.func.value, ast.Name) and node.func.value.id == "F"
    return len(node.args) == (1 if f_call else 0)


def _ranks_house_rule(node):
    """``node`` is ``Window….orderBy(<desc key>, <tie key>, …)``: a
    window spelling the house (score desc, then a tie key) ranking
    rule, whatever form the tie key takes."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "orderBy"
        and len(node.args) >= 2
        and _sorts_desc(node.args[0])
    ):
        return False
    base = node.func.value
    while isinstance(base, (ast.Call, ast.Attribute)):
        base = base.func if isinstance(base, ast.Call) else base.value
    return isinstance(base, ast.Name) and base.id == "Window"


# sim_rerank_rrf fuses two GLOBAL ranks (lexical and vector) of one
# frame, not a per-probe top-k
_HOUSE_RANK_HOMES = {"house_rank", "sim_rerank_rrf"}


def house_rule_windows(py):
    """file:line of each (desc, tie) ranking window in ``py`` outside
    ``_HOUSE_RANK_HOMES``, at module level or in any def."""
    hits = []
    for stmt in ast.parse(py.read_text()).body:
        if isinstance(stmt, ast.FunctionDef) and stmt.name in _HOUSE_RANK_HOMES:
            continue
        for node in ast.walk(stmt):
            if _ranks_house_rule(node):
                hits.append(f"{py.relative_to(py.parents[2])}:{node.lineno}")
    return hits


def test_top_k_only_through_helpers():
    """The similarity family ranks neighbours only through
    ``house_rank`` / ``top_k``, so the tie rule the oracles mirror has
    one home: no (score desc, tie) window elsewhere in similarity.py."""
    hits = house_rule_windows(PACKAGE / "operators" / "similarity.py")
    assert not hits, (
        f"{len(hits)} hand-written (desc, tie) ranking windows; "
        "call similarity.top_k / house_rank instead:\n" + "\n".join(hits)
    )


def test_top_k_breaks_exact_ties_to_the_lower_id(spark):
    """Duplicated embeddings tie bit-exactly on cosine; ``top_k`` must
    keep the lower vec_id first (the oracles' ``ORDER BY … DESC,
    vec_id``), and its cosines must be bit-equal to
    ``pairwise_cosine_exact`` on the same array."""
    import numpy as np

    from data_integration_tool_spark.operators.similarity import (
        normed,
        pairwise_cosine_exact,
        probe_pairs,
        probe_side,
        top_k,
    )

    # 3 = 1 and 4 = 2 exactly; rows listed out of id order
    vecs = {
        0: [1.0, 2.0, 3.0],
        4: [1.0, 2.0, 2.0],
        3: [3.0, 1.0, 2.0],
        5: [2.0, 2.0, 2.0],
        2: [1.0, 2.0, 2.0],
        1: [3.0, 1.0, 2.0],
    }
    ids = sorted(vecs)
    want_cos = pairwise_cosine_exact(np.array([vecs[i] for i in ids]))[0]
    # (cosine desc, id asc) over the non-query ids
    order = sorted(ids[1:], key=lambda i: (-want_cos[i], i))
    assert want_cos[2] == want_cos[4] and want_cos[1] == want_cos[3]

    df = spark.createDataFrame(
        list(vecs.items()), "vec_id bigint, embedding array<float>"
    )
    ne = normed(df, "vec_id")
    q = probe_side(ne, F.col("vec_id") == 0, "query_id", "q")
    cand = probe_pairs(ne, q, "vec_id")
    # k = 1 cuts inside the 2/4 tie, k = 4 inside the 1/3 tie
    for k in (1, 4):
        got = sorted(
            (r.rn, r.vec_id, r.cosine)
            for r in top_k(cand, "query_id", "cosine", "vec_id", k).collect()
        )
        want = [(n + 1, i, want_cos[i]) for n, i in enumerate(order[:k])]
        assert got == want, (k, got, want)
    assert order[:4] == [2, 4, 5, 1]


_PARTKEYS = {"l_partkey", "pa", "pb"}


def _partkey(node):
    """``node`` names a part-key column: ``<df>.l_partkey`` / ``.pa`` /
    ``.pb``, or ``F.col`` of one, qualified or not (``"a.l_partkey"``)."""
    if isinstance(node, ast.Attribute):
        return node.attr in _PARTKEYS
    return (
        _is_f(node, "col")
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and str(node.args[0].value).rsplit(".", 1)[-1] in _PARTKEYS
    )


def _partkey_lt(node):
    """``node`` is ``<part key> < <part key>``."""
    return (
        isinstance(node, ast.Compare)
        and len(node.ops) == 1
        and isinstance(node.ops[0], ast.Lt)
        and _partkey(node.left)
        and _partkey(node.comparators[0])
    )


_LINEITEM_SELF_JOIN_SQL = re.compile(
    r"FROM\s+lineitem\s+a\s+JOIN\s+lineitem\s+b"
)
_TRANSITION_LEAD_SQL = re.compile(r"lead\(\s*event_type\s*\)\s+OVER", re.I)
_EDGE_LIST_HOMES = {
    "copurchase_edges", "_COPURCHASE_EDGES_SQL",
    "transition_edges", "_TRANSITION_EDGES_SQL",
}


def _event_type_lead(node):
    """``node`` is ``F.lead("event_type")``."""
    return (
        _is_f(node, "lead")
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "event_type"
    )


def _home_lines(tree, homes):
    """Line numbers of the top-level defs and assignments named in
    ``homes``."""
    home = set()
    for stmt in tree.body:
        targets = getattr(stmt, "targets", [])
        names = [getattr(stmt, "name", None)] + [
            t.id for t in targets if isinstance(t, ast.Name)
        ]
        if homes.intersection(names):
            home.update(range(stmt.lineno, stmt.end_lineno + 1))
    return home


def _text_lines(src, patterns):
    """Line numbers of each match of ``patterns`` in ``src``."""
    return {
        src.count("\n", 0, m.start()) + 1
        for pattern in patterns
        for m in pattern.finditer(src)
    }


def hand_written_edge_lists(py):
    """file:line of each edge list in ``py`` built outside
    ``_EDGE_LIST_HOMES``. Co-purchase: a ``.join`` / ``.filter`` /
    ``.where`` whose condition compares two part-key columns with
    ``<``, and each ``FROM lineitem a JOIN lineitem b`` in the source
    text (the oracles). Event transitions: ``F.lead("event_type")``,
    and each ``lead(event_type) OVER`` in the source text."""
    src = py.read_text()
    tree = ast.parse(src)
    home = _home_lines(tree, _EDGE_LIST_HOMES)
    lines = set()
    for node in ast.walk(tree):
        if _event_type_lead(node):
            lines.add(node.lineno)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("join", "filter", "where")
        ):
            for arg in node.args + [k.value for k in node.keywords]:
                lines.update(n.lineno for n in ast.walk(arg) if _partkey_lt(n))
    lines |= _text_lines(src, (_LINEITEM_SELF_JOIN_SQL, _TRANSITION_LEAD_SQL))
    where = py.relative_to(py.parents[2])
    return [f"{where}:{line}" for line in sorted(lines - home)]


def test_copurchase_edges_only_through_helper():
    """The graph builders read the basket graph only through
    ``copurchase_edges``, and their oracles only through its twin
    ``_COPURCHASE_EDGES_SQL``, so the slice, the ``pa < pb``
    orientation and the checkpoint have one home: no other lineitem
    self-join on the part key in graph.py. Likewise the event-transition
    graph: ``transition_edges`` and ``_TRANSITION_EDGES_SQL`` hold the
    only ``lead(event_type)`` window in graph.py."""
    hits = hand_written_edge_lists(PACKAGE / "operators" / "graph.py")
    assert not hits, (
        f"{len(hits)} hand-written edge lists; call graph.copurchase_edges"
        " / _COPURCHASE_EDGES_SQL or transition_edges / "
        "_TRANSITION_EDGES_SQL instead:\n"
        + "\n".join(hits)
    )


def _degree_count(node):
    """``node`` counts node degrees by hand: ``<df>.groupBy("node")
    .agg(...F.count...)``, or ``F.explode(F.array("pa", "pb"))``."""
    if _is_f(node, "explode") and node.args and _is_f(node.args[0], "array"):
        return [getattr(a, "value", None) for a in node.args[0].args] == ["pa", "pb"]
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "agg"):
        return False
    grouped = node.func.value
    return (
        isinstance(grouped, ast.Call)
        and isinstance(grouped.func, ast.Attribute)
        and grouped.func.attr == "groupBy"
        and [getattr(a, "value", None) for a in grouped.args] == ["node"]
        and any(_is_f(n, "count") for a in node.args for n in ast.walk(a))
    )


def hand_written_degree_counts(py):
    """file:line of each node-degree count in ``py`` outside ``degrees``."""
    where = py.relative_to(py.parents[2])
    hits = []
    for fn in ast.parse(py.read_text()).body:
        if isinstance(fn, ast.FunctionDef) and fn.name != "degrees":
            hits += [f"{where}:{n.lineno}" for n in ast.walk(fn) if _degree_count(n)]
    return hits


def test_degree_counts_only_through_helper():
    """graph.py counts node degrees through ``degrees`` alone. Its
    executed plan equals the hand-written ``both_ways(pairs)
    .groupBy("node")`` count's once Catalyst prunes ``nbr``."""
    hits = hand_written_degree_counts(PACKAGE / "operators" / "graph.py")
    assert not hits, (
        f"{len(hits)} hand-written degree counts; call graph.degrees instead:\n"
        + "\n".join(hits)
    )


_SERIES_HOMES = {
    "daily_revenue", "_DAILY_REVENUE_SQL",
    "event_counts", "_event_counts_sql",
    "lag_moments", "_lag_moments_sql",
    "pgram_powers", "_pgram_powers_sql",
}
_SERIES_SQL = (
    re.compile(r"date_trunc\(\s*'day'\s*,\s*o_orderdate\s*\)"),
    re.compile(r"epoch_us\(\s*CAST\(\s*ts AS TIMESTAMP\s*\)\s*\)\s*//"),
    re.compile(r"\blag\(\s*rev\s*,"),
)
_BUCKETS_US = {3600000000, 86400000000}


def _series_by_hand(node):
    """``node`` spells a time-series input by hand: the daily revenue
    rollup ``F.date_trunc("day", "o_orderdate")``, an hourly or daily
    count bucket ``F.unix_micros(...) / <hour or day in µs>``, one
    ``F.lag`` per lag (a non-literal offset), or the periodogram basis
    ``_pgram_coefs(...)``."""
    if _is_f(node, "date_trunc"):
        return [getattr(a, "value", None) for a in node.args] == ["day", "o_orderdate"]
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div):
        return _is_f(node.left, "unix_micros") and _number(node.right) in _BUCKETS_US
    if _is_f(node, "lag"):
        return len(node.args) > 1 and _number(node.args[1]) is None
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "_pgram_coefs"
    )


def hand_written_series(py):
    """file:line of each time-series input in ``py`` built outside
    ``_SERIES_HOMES``: a ``_series_by_hand`` node, and in the source
    text (the oracles) each ``date_trunc('day', o_orderdate)``,
    ``epoch_us(CAST(ts AS TIMESTAMP)) //`` bucket and ``lag(rev, ...``."""
    src = py.read_text()
    tree = ast.parse(src)
    lines = {n.lineno for n in ast.walk(tree) if _series_by_hand(n)}
    lines |= _text_lines(src, _SERIES_SQL)
    where = py.relative_to(py.parents[2])
    return [f"{where}:{n}" for n in sorted(lines - _home_lines(tree, _SERIES_HOMES))]


def test_time_series_inputs_only_through_helpers():
    """event_windows.py reads the daily revenue series, the hourly and
    daily event counts, the per-lag pair moments and the periodogram
    powers only through ``daily_revenue``, ``event_counts``,
    ``lag_moments`` and ``pgram_powers``, and its oracles only through
    their SQL twins, so each series is spelled once per engine."""
    hits = hand_written_series(PACKAGE / "streaming" / "event_windows.py")
    assert not hits, (
        f"{len(hits)} hand-written time-series inputs; call the helpers at "
        "the top of event_windows.py or their SQL twins instead:\n"
        + "\n".join(hits)
    )
