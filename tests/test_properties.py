"""Property-based tests (hypothesis) for the determinism kernel.

The engine's oracle-match guarantee rests on a few primitives being
exactly order- and partition-independent; these properties are the
load-bearing walls, so they get generative coverage, not just
examples.
"""

import math
import random

from hypothesis import given, settings
from hypothesis import strategies as st

from locopy_spark.functions.schema_inference import find_column_type
from locopy_spark.operators.scrub import PII_PATTERNS
from locopy_spark.functions.numeric import SCALE

finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


def _scaled_sum(xs):
    return sum(math.floor(x * SCALE + 0.5) for x in xs)


@given(st.lists(finite_doubles, min_size=1, max_size=200), st.randoms())
@settings(max_examples=200, deadline=None)
def test_exact_sum_is_permutation_invariant(xs, rnd):
    """The floor-scale-sum kernel must give the SAME integer no matter
    how partitions order the rows — that is the whole determinism
    argument for money aggregates."""
    shuffled = list(xs)
    rnd.shuffle(shuffled)
    assert _scaled_sum(xs) == _scaled_sum(shuffled)


@given(st.lists(finite_doubles, min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_exact_sum_associative_regrouping(xs):
    """Arbitrary partial-aggregation splits (map-side combine) must
    agree with the single-pass sum."""
    cut = len(xs) // 2
    assert _scaled_sum(xs) == _scaled_sum(xs[:cut]) + _scaled_sum(xs[cut:])


@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=200,
    )
)
@settings(max_examples=150, deadline=None)
def test_scrub_is_idempotent(text):
    """Redaction applied twice must equal redaction applied once (a
    replacement token must never itself match a PII pattern)."""
    import re

    def scrub(s: str) -> str:
        for _, pat, repl in PII_PATTERNS:
            s = re.sub(pat, repl, s)
        return s

    once = scrub(text)
    assert scrub(once) == once


def test_find_column_type_examples():
    import pandas as pd

    df = pd.DataFrame(
        {
            "i": [1, 2],
            "f": [1.5, 2.5],
            "s": ["a", "b"],
            "t": pd.to_datetime(["2020-01-01", "2020-01-02"]),
            "b": [True, False],
        }
    )
    got = find_column_type(df)
    assert got["i"] in ("int", "bigint")
    assert got["f"] in ("float", "double")
    assert got["s"] == "varchar"
    assert got["t"] == "timestamp"


@given(
    st.lists(
        st.text(alphabet=list("abc';\"-/*\\\n `"), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_sql_splitter_never_loses_content(parts):
    """Splitting arbitrary text: the output statements, stripped of the
    top-level semicolons, must preserve every non-separator character
    in order (no content invented or dropped)."""
    from locopy_spark.database import _split_sql_statements

    sql = ";".join(parts)
    out = _split_sql_statements(sql)
    # every returned statement is non-empty and a substring of the input
    for stmt in out:
        assert stmt.strip()
        assert stmt in sql


def test_sql_splitter_plain_statements_roundtrip():
    from locopy_spark.database import _split_sql_statements

    stmts = ["SELECT 1", "SELECT 'a;b'", 'SELECT ";" AS q', "SELECT 2 -- c"]
    assert _split_sql_statements("; ".join(stmts)) == stmts


@given(st.lists(st.integers(0, 65535), min_size=2, max_size=2))
@settings(max_examples=300, deadline=None)
def test_morton_interleave_roundtrip(xy):
    """zorder_value must be a bijection: de-interleaving the Morton
    key recovers both inputs exactly (pure-Python mirror of the
    Catalyst expression)."""
    x, y = xy

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    z = morton(x, y)
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(16))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (rx, ry) == (x, y)


def test_morton_catalyst_matches_python(spark):
    """The Catalyst bit expression computes the same Morton keys as
    the reference Python implementation."""
    from pyspark.sql import functions as F

    from locopy_spark.sources.layout import zorder_value

    rows = [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 2, 7, 1024, 65535)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)


@given(
    st.lists(st.sampled_from([f"k{i}" for i in range(40)]), min_size=20, max_size=300),
    st.integers(4, 12),
)
@settings(max_examples=30, deadline=None)
def test_mg_candidates_superset_property(tokens, k):
    """Property: for ANY token stream and ANY capacity >= k, the
    Misra-Gries truncation logic (pure-Python mirror of the
    mapInPandas partition pass) keeps every item with count >= n/k."""
    cap = k + 3
    counts = {}
    # mirror of operators/heavyhitters.py run(): merge then truncate
    import collections
    for chunk_start in range(0, len(tokens), 50):
        chunk = tokens[chunk_start:chunk_start + 50]
        for t, c in collections.Counter(chunk).items():
            counts[t] = counts.get(t, 0) + c
        if len(counts) > cap:
            d = sorted(counts.values(), reverse=True)[cap]
            counts = {t: v - d for t, v in counts.items() if v > d}
    true = collections.Counter(tokens)
    n = len(tokens)
    for t, c in true.items():
        if c * k >= n:
            assert t in counts, (t, c, n, k)


def _kmv(values, k):
    """Model of operators.sketches.kmv_sketch: k smallest distinct."""
    return sorted(set(values))[:k]


@given(
    st.lists(st.text(alphabet="abcdef0123", min_size=1, max_size=6)),
    st.lists(st.text(alphabet="abcdef0123", min_size=1, max_size=6)),
    st.integers(min_value=1, max_value=16),
)
@settings(max_examples=200, deadline=None)
def test_kmv_merge_is_a_monoid(xs, ys, k):
    """KMV merge (k smallest of the union) must be commutative,
    idempotent, and equal to the sketch of the union — the property
    that makes stream_kmv_sketch batching-invariant."""
    sa, sb = _kmv(xs, k), _kmv(ys, k)
    merged = sorted(set(sa) | set(sb))[:k]
    assert merged == sorted(set(sb) | set(sa))[:k]  # commutative
    assert sorted(set(merged) | set(sa))[:k] == merged  # idempotent-ish
    assert merged == _kmv(xs + ys, k)  # sketch(union) == merge(sketches)


@given(
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 100)), max_size=30),
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 100)), max_size=30),
    st.randoms(),
)
@settings(max_examples=200, deadline=None)
def test_incremental_join_algebra_complete(a_rows, b_rows, rnd):
    """The delta-join identity behind operators.merge.incremental_join:
    for ANY split of each side, base⋈base ∪ Δa⋈b0 ∪ a0⋈Δb ∪ Δa⋈Δb is
    multiset-equal to the full join."""
    from collections import Counter

    idx = [rnd.random() < 0.5 for _ in a_rows]
    a0 = [r for r, t in zip(a_rows, idx) if t]
    da = [r for r, t in zip(a_rows, idx) if not t]
    idy = [rnd.random() < 0.5 for _ in b_rows]
    b0 = [r for r, t in zip(b_rows, idy) if t]
    db = [r for r, t in zip(b_rows, idy) if not t]

    def join(xs, ys):
        return Counter(
            (xk, xv, yv) for xk, xv in xs for yk, yv in ys if xk == yk
        )

    incremental = (
        join(a0, b0) + join(da, b0) + join(a0, db) + join(da, db)
    )
    assert incremental == join(a_rows, b_rows)


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=300, deadline=None)
def test_ntile_convention_matches_sql(total, n):
    """The global_ntile tile arithmetic must match the SQL NTILE
    convention (first total%n tiles get the extra row) for ANY
    (total, n) — the identity p_curriculum_stages' oracle relies on."""
    base, rem = divmod(total, n)
    cut = rem * (base + 1)

    def tile(rank):  # mirror of operators/ranking.py global_ntile
        if rank <= cut:
            return (rank - 1) // (base + 1) + 1
        if base > 0:
            return (rank - cut - 1) // base + rem + 1
        return None

    sizes = {}
    for r in range(1, total + 1):
        t = tile(r)
        assert t is not None and 1 <= t <= n
        sizes[t] = sizes.get(t, 0) + 1
    # SQL convention: tiles 1..rem have base+1 rows, the rest base
    for t, sz in sizes.items():
        assert sz == (base + 1 if t <= rem else base), (total, n, t, sz)
    # monotone: ranks map to non-decreasing tiles
    assert [tile(r) for r in range(1, total + 1)] == sorted(
        tile(r) for r in range(1, total + 1)
    )


@given(
    st.text(alphabet="abcde ", max_size=12),
    st.text(alphabet="abcde ", max_size=12),
)
@settings(max_examples=200, deadline=None)
def test_levenshtein_cross_engine(a, b):
    """q_fuzzy_match's exactness claim: DuckDB's levenshtein equals the
    textbook DP on arbitrary strings (Spark's implements the same DP;
    the oracle gate pins Spark == DuckDB on the real data)."""
    import duckdb

    def dp(s, t):
        m, n = len(s), len(t)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (s[i - 1] != t[j - 1]),
                )
            prev = cur
        return prev[n]

    got = duckdb.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
    assert got == dp(a, b), (a, b)


@given(
    st.integers(min_value=0, max_value=1_000_000),
    st.integers(min_value=0, max_value=1_000_000),
)
@settings(max_examples=500, deadline=None)
def test_freq_drift_term_bounded(pa, pb):
    """t_freq_drift's overflow-safety claim: every per-token term
    (pa−pb)² // (pa+pb) is bounded by max ppm (1e6), so per-source
    sums stay far below 2^63 at any vocabulary size."""
    if pa + pb == 0:
        return
    term = (pa - pb) * (pa - pb) // (pa + pb)
    assert 0 <= term <= 1_000_000


@given(
    st.lists(st.integers(0, 10**9), min_size=10, max_size=60, unique=True),
    st.integers(min_value=1, max_value=8),
    st.randoms(),
)
@settings(max_examples=200, deadline=None)
def test_nested_candidates_monotone_recall(scores, k, rnd):
    """s_ivf_tuning's monotonicity anchor: with distinct scores, the
    top-k of a LARGER candidate set never contains fewer true-top-k
    members than the top-k of a nested smaller one."""
    ids = list(range(len(scores)))
    true_topk = set(sorted(ids, key=lambda i: -scores[i])[:k])
    shuffled = list(ids)
    rnd.shuffle(shuffled)
    small = set(shuffled[: len(ids) // 2])
    large = small | set(shuffled[len(ids) // 2: 3 * len(ids) // 4])

    def hits(cand):
        approx = set(sorted(cand, key=lambda i: -scores[i])[:k])
        return len(approx & true_topk)

    assert hits(large) >= hits(small)


DAY_US = 86_400_000_000


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5 * DAY_US),
            st.integers(min_value=0, max_value=2 * DAY_US),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_sweep_line_day_peak_device(iv):
    """The q_sessions_concurrent device (per-instant nets -> exclusive
    prefix sum -> per-day max of GREATEST(carry_in, post)) must equal
    an independent sorted SCAN under the same closure convention
    (the carry-in value counts toward the day it carries into).
    Deliberately includes intervals starting/ending exactly on day
    boundaries — the corner the synthetic data never hits."""
    ivals = [(s, s + d) for s, d in iv]
    deltas = {}
    for s, e in ivals:
        deltas[s] = deltas.get(s, 0) + 1
        deltas[e + 1] = deltas.get(e + 1, 0) - 1
    # device: exclusive prefix + GREATEST per day
    got, v = {}, 0
    for t in sorted(deltas):
        carry = v
        v += deltas[t]
        d = t // DAY_US
        got[d] = max(got.get(d, 0), carry, v)
    # independent scan: walk every delta instant in order, tracking
    # the running value; a day's peak is the max of the value just
    # before its first instant and after each of its instants
    want = {}
    run = 0
    seen_days = set()
    for t in sorted(deltas):
        d = t // DAY_US
        if d not in seen_days:
            seen_days.add(d)
            want[d] = run  # carry-in (value before the day's first change)
        run += deltas[t]
        want[d] = max(want[d], run)
    assert got == want


@given(st.integers(min_value=1, max_value=1000), st.integers(min_value=1, max_value=1000))
@settings(max_examples=200, deadline=None)
def test_rrf_contribution_monotone_in_rank(r1, r2):
    """1e6 // (60 + rank) must be non-increasing in rank — a better
    rank can never lower a document's fused RRF score."""
    lo, hi = min(r1, r2), max(r1, r2)
    assert 1_000_000 // (60 + lo) >= 1_000_000 // (60 + hi)
    # and the fused sum inherits it arm-wise
    other = 1_000_000 // (60 + 7)
    assert other + 1_000_000 // (60 + lo) >= other + 1_000_000 // (60 + hi)


@given(
    st.integers(min_value=-6_400_000_000_000, max_value=6_400_000_000_000),
    st.integers(min_value=-6_400_000_000_000, max_value=6_400_000_000_000),
    st.integers(min_value=1, max_value=64_000_000_000),
    st.integers(min_value=1, max_value=64_000_000_000),
)
@settings(max_examples=300, deadline=None)
def test_purity_comparator_matches_exact_rationals(dot_o, dot_b, n2_o, n2_b):
    """The sign-aware cross-multiplied-squares comparator
    (queries.docs_ext._purity_win) must decide cos_o > cos_b exactly
    as Fraction arithmetic does, across every sign combination and at
    the full magnitude range the scales permit — and the identical
    expression text must evaluate to the same verdict in DuckDB (the
    oracle side)."""
    from fractions import Fraction

    import duckdb

    from locopy_spark.queries.docs_ext import _purity_win

    # exact truth: cos_o > cos_b  <=>  dot_o/sqrt(n2_o) > dot_b/sqrt(n2_b)
    # compare via sign cases + squared Fractions (no float sqrt)
    if dot_o >= 0 and dot_b < 0:
        want = True
    elif dot_o < 0 and dot_b >= 0:
        want = False
    else:
        qo = Fraction(dot_o * dot_o, n2_o)
        qb = Fraction(dot_b * dot_b, n2_b)
        want = (qo > qb) if dot_o >= 0 else (qo < qb)
    got = duckdb.sql(
        f"SELECT {_purity_win('HUGEINT')} AS w FROM (SELECT "
        f"CAST({dot_o} AS BIGINT) dot_o, CAST({dot_b} AS BIGINT) dot_b, "
        f"CAST({n2_o} AS BIGINT) n2_o, CAST({n2_b} AS BIGINT) n2_b)"
    ).fetchone()[0]
    assert got == want


@given(
    st.integers(min_value=-(10**18), max_value=10**18),
    st.integers(min_value=1, max_value=10**12),
    st.sampled_from([1, 10**3, 10**6]),
)
@settings(max_examples=300, deadline=None)
def test_signed_ratio_truncates_toward_zero_cross_engine(num, den, scale):
    """trends._signed_ratio must equal Python's sign·(|num|·scale//den)
    (truncation toward zero) when evaluated with DuckDB's ``//`` —
    the device exists precisely because raw negative floor division
    diverges between engines."""
    import duckdb

    from locopy_spark.queries.trends import _signed_ratio

    expr = _signed_ratio("num", "den", scale, "//")
    got = duckdb.sql(
        f"SELECT {expr} AS r FROM (SELECT CAST({num} AS HUGEINT) num,"
        f" CAST({den} AS HUGEINT) den)"
    ).fetchone()[0]
    want = (1 if num >= 0 else -1) * (abs(num) * scale // den)
    assert int(got) == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=500),   # trials
            st.integers(min_value=0, max_value=500),   # successes (capped)
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_ca_statistic_shift_invariant(daily):
    """The Cochran–Armitage integer statistics t_n and vt must be
    invariant under shifting the day scores — the property that makes
    CA_EPOCH_DAY a pure headroom choice, not a semantic one."""
    daily = [(t, n, min(r, n)) for t, (n, r) in enumerate(daily)]

    def stats(shift):
        nn = sum(n for _, n, _ in daily)
        rr = sum(r for _, _, r in daily)
        st_ = sum(n * (t + shift) for t, n, _ in daily)
        stt = sum(n * (t + shift) ** 2 for t, n, _ in daily)
        srt = sum(r * (t + shift) for t, _, r in daily)
        return nn * srt - rr * st_, nn * stt - st_ * st_

    assert stats(0) == stats(12345) == stats(-999)


def test_global_running_sum_matches_serial_accumulation(spark):
    """The distributed prefix sum (range partition + driver offsets +
    per-partition windows) equals the serial exclusive accumulation
    for ANY partition count — including partitions exceeding rows —
    and for negative and zero values (operators.ranking powers shard
    cuts, budget trims, and the resume planner, so this is a
    load-bearing wall)."""
    import itertools

    from locopy_spark.operators.ranking import global_running_sum

    rnd = random.Random(20260815)
    for n_parts in (1, 3, 8, 64):
        rows = [
            (f"k{idx:04d}", rnd.randint(-1000, 1000))
            for idx in rnd.sample(range(10000), 157)
        ]
        df = spark.createDataFrame(rows, "hk string, v long")
        got = {
            r.hk: r.run
            for r in global_running_sum(
                df, order_cols=["hk"], value_col="v", out_col="run",
                num_partitions=n_parts,
            ).collect()
        }
        ordered = sorted(rows)
        prefix = [0, *itertools.accumulate(v for _, v in ordered)]
        want = {k: prefix[i] for i, (k, _) in enumerate(ordered)}
        assert got == want, f"num_partitions={n_parts}"


def _ranking_cases():
    """(name, distributed call, serial window twin) for every public
    wrapper of operators.ranking — grouped and ungrouped, both the
    range-partitioned and the ``bounded`` arm, ``size_col`` and
    ``total_col``.  Each call takes (df, num_partitions)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from locopy_spark.operators import ranking as R

    wo = W.orderBy("k")
    wx = wo.rowsBetween(W.unboundedPreceding, -1)
    wg = W.partitionBy("g").orderBy("k")

    def excl(c):
        return F.coalesce(F.sum(c).over(wx), F.lit(0))

    def rank_sum(c):
        return lambda df: df.withColumn("rn", F.row_number().over(wo)).withColumn(
            "running", excl(c)
        )

    return [
        (
            "global_row_number",
            lambda df, p: R.global_row_number(df, ["k"], num_partitions=p),
            lambda df: df.withColumn("rn", F.row_number().over(wo)),
        ),
        (
            "global_row_number/bounded",
            lambda df, p: R.global_row_number(df, ["k"], bounded=True),
            lambda df: df.withColumn("rn", F.row_number().over(wo)),
        ),
        (
            "global_ntile",
            lambda df, p: R.global_ntile(df, ["k"], 7),
            lambda df: df.withColumn("ntile", F.ntile(7).over(wo)),
        ),
        (
            "grouped_global_row_number",
            lambda df, p: R.grouped_global_row_number(
                df, ["g"], ["k"], size_col="n", num_partitions=p
            ),
            lambda df: df.withColumn("rn", F.row_number().over(wg)).withColumn(
                "n", F.count(F.lit(1)).over(W.partitionBy("g"))
            ),
        ),
        (
            "global_running_sum",
            lambda df, p: R.global_running_sum(df, ["k"], "v", num_partitions=p),
            lambda df: df.withColumn("running", excl("v")),
        ),
        (
            "global_running_sum/double",
            lambda df, p: R.global_running_sum(df, ["k"], "d", num_partitions=p),
            lambda df: df.withColumn("running", excl("d")),
        ),
        (
            "global_running_sum/bounded",
            lambda df, p: R.global_running_sum(df, ["k"], "v", bounded=True),
            lambda df: df.withColumn("running", excl("v")),
        ),
        (
            "grouped_global_running_sum",
            lambda df, p: R.grouped_global_running_sum(
                df, ["g"], ["k"], "w", total_col="t", num_partitions=p
            ),
            lambda df: df.withColumn(
                "cumw",
                F.sum("w").over(
                    wg.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
            ).withColumn("t", F.sum("w").over(W.partitionBy("g"))),
        ),
        (
            "global_rank_and_running_sum",
            lambda df, p: R.global_rank_and_running_sum(
                df, ["k"], "v", num_partitions=p
            ),
            rank_sum("v"),
        ),
        (
            "global_rank_and_running_sum/double",
            lambda df, p: R.global_rank_and_running_sum(
                df, ["k"], "d", num_partitions=p
            ),
            rank_sum("d"),
        ),
        (
            "global_rank_and_running_sum/bounded",
            lambda df, p: R.global_rank_and_running_sum(
                df, ["k"], "v", bounded=True
            ),
            rank_sum("v"),
        ),
    ]


# output columns (name:type, in order) of each case, as recorded before
# the wrappers shared one kernel; the range and bounded arms differ
# (row_number() alone is int, plus an offset it is bigint)
_RANKING_DTYPES = {
    "global_row_number": "k:bigint g:string v:int d:double w:bigint rn:bigint",
    "global_row_number/bounded": "k:bigint g:string v:int d:double w:bigint rn:int",
    "global_ntile": "k:bigint g:string v:int d:double w:bigint ntile:int",
    "grouped_global_row_number": (
        "g:string k:bigint v:int d:double w:bigint rn:bigint n:bigint"
    ),
    "global_running_sum": (
        "k:bigint g:string v:int d:double w:bigint running:bigint"
    ),
    "global_running_sum/double": (
        "k:bigint g:string v:int d:double w:bigint running:double"
    ),
    "global_running_sum/bounded": (
        "k:bigint g:string v:int d:double w:bigint running:bigint"
    ),
    "grouped_global_running_sum": (
        "g:string k:bigint v:int d:double w:bigint cumw:bigint t:bigint"
    ),
    "global_rank_and_running_sum": (
        "k:bigint g:string v:int d:double w:bigint rn:bigint running:bigint"
    ),
    "global_rank_and_running_sum/double": (
        "k:bigint g:string v:int d:double w:bigint rn:bigint running:double"
    ),
    "global_rank_and_running_sum/bounded": (
        "k:bigint g:string v:int d:double w:bigint rn:int running:bigint"
    ),
}


def _ranking_frame(spark, n):
    rnd = random.Random(20261019)
    rows = [
        (
            key,
            rnd.choice("abcd"),
            rnd.randint(-50, 50),
            rnd.randint(-40, 40) * 0.25,  # dyadic: every sum order is exact
            rnd.randint(0, 9),
        )
        for key in rnd.sample(range(100000), n)
    ]
    return spark.createDataFrame(
        rows, "k long, g string, v int, d double, w long"
    )


def test_ranking_wrappers_match_serial_windows(spark):
    """Every ranking wrapper equals its one-partition window twin on
    one random frame for num_partitions in {1, 3, 64} (more partitions
    than some groups have rows), on an empty frame and on a frame with
    NULL group keys, and keeps the output column types."""
    from pyspark.sql import functions as F

    full = _ranking_frame(spark, 211)
    # a third of the rows with a NULL group key: one group, as in the
    # serial Window.partitionBy
    null_g = full.withColumn("g", F.when(F.col("k") % 3 > 0, F.col("g")))
    frames = [
        (full, 1), (full, 3), (full, 64), (full.limit(0), 3), (null_g, 3)
    ]
    for name, call, twin in _ranking_cases():
        for df, parts in frames:
            got = call(df, parts)
            want = twin(df)
            dtypes = " ".join(f"{c}:{t}" for c, t in got.dtypes)
            assert dtypes == _RANKING_DTYPES[name], (name, dtypes)
            rows = sorted(map(tuple, got.select(*want.columns).collect()))
            assert rows == sorted(map(tuple, want.collect())), (name, parts)


# -- the shared two-sample panel grid (cliffs_state → ks/mw/cliffs) ----------
#
# Since late r8 all three two-sample finishers (q_ks_test,
# q_mann_whitney, q_cliffs_delta) close over ONE per-value segment
# grid (v, d_a, d_b) — the state stream_cliffs maintains live.  The
# load-bearing identity is t = d_a + d_b: the grid must reproduce the
# POOLED tie-run lengths exactly, or the doubled-rank algebra (MW),
# the common-denominator ECDF gap (KS), and the dominance pair counts
# (Cliffs) all silently drift.  This property drives the REAL Spark
# finishers over adversarial tie patterns and compares against
# brute-force textbook re-derivations.


def _panel_bruteforce(a_vals, b_vals):
    """Textbook KS / MW / Cliffs on two integer-value samples, using
    the SAME exact-integer closing conventions as the engines."""
    n_a, n_b = len(a_vals), len(b_vals)
    pooled = sorted(set(a_vals) | set(b_vals))
    d_a = {v: a_vals.count(v) for v in pooled}
    d_b = {v: b_vals.count(v) for v in pooled}
    # KS: max common-denominator ECDF gap, floor-divided to ppb
    ca = cb = 0
    max_gap = 0
    for v in pooled:
        ca += d_a[v]
        cb += d_b[v]
        max_gap = max(max_gap, abs(ca * n_b - cb * n_a))
    d_ppb = (max_gap * 10**9) // (n_a * n_b)
    reject = (d_ppb / 1.0e9) > 1.358 * math.sqrt(
        (float(n_a) + float(n_b)) / (float(n_a) * float(n_b))
    )
    # MW: doubled tie-averaged ranks (2·cum_before + t + 1)
    cum = 0
    r_a_x2 = 0
    ties_t = 0
    for v in pooled:
        t = d_a[v] + d_b[v]
        r_a_x2 += d_a[v] * (2 * cum + t + 1)
        ties_t += t * t * t - t
        cum += t
    u_a_x2 = r_a_x2 - n_a * (n_a + 1)
    var = float(n_a) * float(n_b) / 12.0 * (
        (float(n_a) + float(n_b) + 1.0)
        - float(ties_t)
        / ((float(n_a) + float(n_b)) * (float(n_a) + float(n_b) - 1.0))
    )
    # all-pooled-values-tied ⇒ zero variance; Spark doubles yield NULL
    # on division by zero, so the engine's z is NULL there
    z = (
        None
        if math.sqrt(max(var, 0.0)) == 0.0
        else (u_a_x2 / 2.0 - float(n_a) * float(n_b) / 2.0) / math.sqrt(var)
    )
    # Cliffs: dominance pair counts
    n_gt = sum(1 for x in a_vals for y in b_vals if x > y)
    n_eq = sum(1 for x in a_vals for y in b_vals if x == y)
    delta = (n_gt * 2.0 + float(n_eq) - float(n_a) * float(n_b)) / (
        float(n_a) * float(n_b)
    )
    return {
        "ks": (n_a, n_b, d_ppb, reject),
        "mw": (n_a, n_b, u_a_x2, ties_t, z),
        "cliffs": (n_a, n_b, n_gt, n_eq, delta),
    }


def _run_panel(spark, samples):
    from locopy_spark.queries.stats import cliffs_report, ks_report, mw_report

    a_vals = sorted(v for v, seg in samples if seg == 0)
    b_vals = sorted(v for v, seg in samples if seg == 1)
    pooled = sorted({v for v, _ in samples})
    grid = spark.createDataFrame(
        [
            (v, a_vals.count(v), b_vals.count(v))
            for v in pooled
        ],
        "v long, d_a long, d_b long",
    )
    want = _panel_bruteforce(a_vals, b_vals)
    ks = ks_report(grid).collect()[0]
    assert (ks.n_a, ks.n_b, ks.d_ppb, ks.reject_95) == want["ks"]
    mw = mw_report(grid).collect()[0]
    assert (mw.n_a, mw.n_b, mw.u_a_x2, mw.ties_t) == want["mw"][:4]
    assert mw.z == want["mw"][4]
    cl = cliffs_report(grid).collect()[0]
    assert (cl.n_a, cl.n_b, cl.n_gt, cl.n_eq) == want["cliffs"][:4]
    assert cl.cliffs_delta == want["cliffs"][4]


from hypothesis import example  # noqa: E402


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1)),
        min_size=2,
        max_size=40,
    ).filter(
        lambda s: any(seg == 0 for _, seg in s)
        and any(seg == 1 for _, seg in s)
    )
)
@example([(3, 0)] * 9 + [(3, 1)] * 7)            # ALL ties: one pooled run
@example([(1, 0), (2, 1)])                       # singleton segments
@example([(0, 0), (0, 1), (5, 0), (5, 1)])       # tie runs at both extremes
@example([(1, 0)] * 20 + [(1, 1), (4, 1)])       # near-degenerate B
@settings(max_examples=10, deadline=None)
def test_two_sample_panel_finishers_match_bruteforce(spark, samples):
    """The grid → finisher path for all three two-sample keys must
    equal textbook brute force on adversarial tie patterns — exact
    integer columns AND the shared double expressions, bit for bit."""
    _run_panel(spark, samples)


def test_two_sample_panel_empty_side_yields_null_ratios(spark):
    """One-segment-empty input (can't happen on the gated tables, can
    happen mid-stream): integer monoid columns must still be exact and
    the ratio columns must be NULL, never a crash or a wrong number."""
    from locopy_spark.queries.stats import cliffs_report, ks_report, mw_report

    grid = spark.createDataFrame(
        [(1, 3, 0), (4, 2, 0)], "v long, d_a long, d_b long"
    )
    ks = ks_report(grid).collect()[0]
    assert (ks.n_a, ks.n_b) == (5, 0) and ks.d_ppb is None
    mw = mw_report(grid).collect()[0]
    assert (mw.n_a, mw.n_b, mw.u_a_x2) == (5, 0, 0)
    cl = cliffs_report(grid).collect()[0]
    assert (cl.n_a, cl.n_b, cl.n_gt, cl.n_eq) == (5, 0, 0, 0)


# -- streaming monoid states: stream_shapley / stream_ndr --------------------
#
# The two subtlest merge rules in the streaming surface (VERDICT r9
# task 7): stream_shapley's per-user MIN state realizes RETROACTIVE
# EXCLUSION at read time (an early purchase arriving in a LATER chunk
# must exclude touches whose mins are already merged — the mask
# projection compares merged mins, so ordering must not matter), and
# stream_ndr's plain-sum grid feeds a (customer, year+1) self-join at
# close (a cohort's NDR keeps moving as next-year orders stream in).
# These properties drive the REAL maintainer merge (monoid_merge with
# the twin's own shipped spec) over
# hypothesis-random chunkings/orderings and assert that after EVERY
# chunk prefix the merged state equals the batch state of exactly the
# events seen so far — the definition of lockstep.

from datetime import datetime as _dt  # noqa: E402


def _shapley_merge(spark, state, chunk_df):
    from locopy_spark.queries.events_ext import shapley_user_state
    from locopy_spark.streaming.stateful import first_touch_spec, monoid_merge

    return monoid_merge(
        state, shapley_user_state(chunk_df), first_touch_spec()[1]
    ).localCheckpoint()


def _shapley_empty_state(spark):
    from locopy_spark.streaming.stateful import first_touch_spec

    return spark.createDataFrame([], first_touch_spec()[0])


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                  # user
            st.integers(0, 4),                  # 0-3 = channel, 4 = purchase
            st.integers(1, 12),                 # day
        ),
        min_size=1,
        max_size=24,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=8, deadline=None)
def test_stream_shapley_state_chunking_invariant(spark, evs, rnd):
    from pyspark.sql import functions as F  # noqa: F401

    from locopy_spark.queries.events_ext import (
        SHAPLEY_CHANNELS,
        shapley_user_state,
    )

    kinds = SHAPLEY_CHANNELS + ["purchase"]
    rows = [
        (i + 1, _dt(2000, 1, day), uid, kinds[kind], 1.0, "{}")
        for i, (uid, kind, day) in enumerate(evs)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    # adversarial ordering: shuffle, then split into 1-4 chunks — a
    # purchase can land chunks after the touches it must exclude, and
    # duplicates of a row across chunks exercise MIN idempotence
    rnd.shuffle(rows)
    if len(rows) > 1 and rnd.random() < 0.5:
        rows.append(rows[0])  # re-delivery
    n_chunks = rnd.randrange(1, 5)
    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    chunks = [c for c in chunks if c]

    state = _shapley_empty_state(spark)
    seen = []
    for c in chunks:
        seen.extend(c)
        state = _shapley_merge(spark, state, spark.createDataFrame(c, schema))
        want = sorted(
            tuple(r)
            for r in shapley_user_state(
                spark.createDataFrame(seen, schema)
            ).collect()
        )
        got = sorted(tuple(r) for r in state.collect())
        assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                  # customer
            st.integers(0, 4),                  # year offset from 1994
            st.integers(1, 9999),               # price cents-ish
        ),
        min_size=1,
        max_size=24,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=8, deadline=None)
def test_stream_ndr_report_chunking_invariant(spark, ords, rnd):
    from locopy_spark.queries.timeseries import ndr_report, ndr_state
    from locopy_spark.streaming.stateful import NDR_SPEC, monoid_merge

    rows = [
        (cust, _dt(1994 + yr, 6, 15), price / 100.0)
        for cust, yr, price in ords
    ]
    schema = "o_custkey long, o_orderdate timestamp, o_totalprice double"
    rnd.shuffle(rows)
    n_chunks = rnd.randrange(1, 5)
    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    chunks = [c for c in chunks if c]

    state = spark.createDataFrame([], NDR_SPEC[0])
    seen = []
    for c in chunks:
        seen.extend(c)
        state = monoid_merge(
            state, ndr_state(spark.createDataFrame(c, schema)), NDR_SPEC[1]
        ).localCheckpoint()
        # the close (grid self-join on year+1 + horizon guard) over the
        # merged state must equal batch over exactly the orders so far
        want = sorted(
            tuple(r)
            for r in ndr_report(
                ndr_state(spark.createDataFrame(seen, schema))
            ).collect()
        )
        got = sorted(tuple(r) for r in ndr_report(state).collect())
        assert got == want


def test_stream_shapley_purchase_first_retroactive_exclusion(spark):
    """Deterministic pin of the canonical adversarial ordering: the
    PURCHASE arrives in an earlier chunk than the touches it must
    exclude, one pre-purchase touch arrives last, and one row is
    re-delivered.  The merged state must equal the batch state and
    the read-time mask must exclude exactly the post-purchase
    touches."""
    from locopy_spark.queries.events_ext import (
        SHAPLEY_CHANNELS,
        shapley_grid,
        shapley_user_state,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    purchase = (1, _dt(2000, 1, 10), 7, "purchase", 1.0, "{}")
    late_touch = (2, _dt(2000, 1, 12), 7, SHAPLEY_CHANNELS[0], 1.0, "{}")
    early_touch = (3, _dt(2000, 1, 3), 7, SHAPLEY_CHANNELS[1], 1.0, "{}")
    chunks = [[purchase], [late_touch, purchase], [early_touch]]

    state = _shapley_empty_state(spark)
    for c in chunks:
        state = _shapley_merge(spark, state, spark.createDataFrame(c, schema))
    allrows = [purchase, late_touch, early_touch]
    want = sorted(
        tuple(r)
        for r in shapley_user_state(
            spark.createDataFrame(allrows, schema)
        ).collect()
    )
    assert sorted(tuple(r) for r in state.collect()) == want
    # read-time mask: ONLY the pre-purchase channel-1 touch counts
    grid = {r.mask: (r.users, r.convs) for r in shapley_grid(state).collect()}
    assert grid == {2: (1, 1)}


# ---------------------------------------------------------------------------
# ANN maintenance chunking invariance (VERDICT r10 task 7): the
# idempotent-merge claims of stream_ann_postings / stream_ann_lists,
# hypothesis-driven the way stream_shapley/stream_ndr are — random
# splits, shuffles, and re-deliveries; postings/lists equality vs the
# batch twin after EVERY prefix (table equality implies serving
# equality: knn reads nothing else).
# ---------------------------------------------------------------------------

_ANN_PROP_DIM = 16
_ANN_PROP_PLANES = 4
_ANN_PROP_TABLES = 4


def _ann_prop_vec(rnd_ints):
    # quarter-integers: exactly representable floats, so fixed-point
    # norms and LSH signatures are bit-stable everywhere
    return [v / 4.0 for v in rnd_ints]


@given(
    st.lists(
        st.lists(
            st.integers(-3, 3), min_size=_ANN_PROP_DIM, max_size=_ANN_PROP_DIM
        ),
        min_size=1,
        max_size=10,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=6, deadline=None)
def test_stream_ann_postings_chunking_invariant(spark, vecs, rnd):
    from locopy_spark.operators.similarity import lsh_signatures
    from locopy_spark.streaming.stateful import ANN_POSTINGS_SPEC, monoid_merge

    schema = "vec_id long, embedding array<float>"
    rows = [(i, _ann_prop_vec(v)) for i, v in enumerate(vecs)]
    deliveries = list(rows)
    rnd.shuffle(deliveries)
    if rnd.random() < 0.5:
        deliveries.append(deliveries[0])  # re-delivery across chunks
    n_chunks = rnd.randrange(1, 5)
    chunks = [c for c in (deliveries[i::n_chunks] for i in range(n_chunks)) if c]

    def sigs(df):
        return lsh_signatures(
            df,
            n_planes=_ANN_PROP_PLANES,
            n_tables=_ANN_PROP_TABLES,
            dim=_ANN_PROP_DIM,
        )

    # the stream_ann_postings merge (keep-any per idempotence key), at
    # the property's small geometry
    state = spark.createDataFrame([], ANN_POSTINGS_SPEC[0])
    seen_ids = set()
    for c in chunks:
        seen_ids.update(i for i, _ in c)
        state = monoid_merge(
            state, sigs(spark.createDataFrame(c, schema)), ANN_POSTINGS_SPEC[1]
        ).localCheckpoint()
        want = sorted(
            tuple(r)
            for r in sigs(
                spark.createDataFrame(
                    [r for r in rows if r[0] in seen_ids], schema
                )
            ).collect()
        )
        assert sorted(tuple(r) for r in state.collect()) == want


@given(
    st.lists(
        st.lists(
            st.integers(-3, 3), min_size=_ANN_PROP_DIM, max_size=_ANN_PROP_DIM
        ),
        min_size=1,
        max_size=10,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=6, deadline=None)
def test_stream_ann_lists_chunking_invariant(spark, vecs, rnd):
    from pyspark.sql import functions as F

    from locopy_spark.operators.similarity import _ivf_assign, with_fixed_norm
    from locopy_spark.streaming.stateful import ANN_LISTS_SPEC, monoid_merge

    schema = "vec_id long, embedding array<float>"
    rows = [(i, _ann_prop_vec(v)) for i, v in enumerate(vecs)]
    # FROZEN quantizer: three fixed centroids independent of arrival
    cent_rows = [
        (100, [1.0] + [0.0] * (_ANN_PROP_DIM - 1)),
        (101, [0.0, -1.0] + [0.0] * (_ANN_PROP_DIM - 2)),
        (102, [0.25] * _ANN_PROP_DIM),
    ]
    cent = with_fixed_norm(
        spark.createDataFrame(cent_rows, "centroid_id long, c_emb array<float>"),
        "c_emb",
    ).select("centroid_id", "c_emb", F.col("norm_fix").alias("c_norm"))
    cent = cent.localCheckpoint()

    deliveries = list(rows)
    rnd.shuffle(deliveries)
    if rnd.random() < 0.5:
        deliveries.append(deliveries[-1])
    n_chunks = rnd.randrange(1, 5)
    chunks = [c for c in (deliveries[i::n_chunks] for i in range(n_chunks)) if c]

    def assign(df):
        base = with_fixed_norm(df)
        vecs_df = base.select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_emb"),
            F.col("norm_fix").alias("n_norm"),
        )
        return _ivf_assign(vecs_df, "n", 1, cent)

    # the stream_ann_lists merge (keep-any per vector against the
    # frozen quantizer)
    state = spark.createDataFrame([], ANN_LISTS_SPEC[0])
    seen_ids = set()
    for c in chunks:
        seen_ids.update(i for i, _ in c)
        state = monoid_merge(
            state, assign(spark.createDataFrame(c, schema)), ANN_LISTS_SPEC[1]
        ).localCheckpoint()
        want = sorted(
            (r.centroid_id, r.n_id, tuple(r.n_emb), r.n_norm)
            for r in assign(
                spark.createDataFrame(
                    [r for r in rows if r[0] in seen_ids], schema
                )
            ).collect()
        )
        got = sorted(
            (r.centroid_id, r.n_id, tuple(r.n_emb), r.n_norm)
            for r in state.collect()
        )
        assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),                  # priority index
            st.integers(1, 9999),               # whole-dollar value
        ),
        min_size=1,
        max_size=30,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=8, deadline=None)
def test_stream_welch_state_chunking_invariant(spark, vals, rnd):
    """Welch's 1-row state is a plain-sum monoid: ANY shuffle/split of
    the orders merges to the batch state, and the layered F closure
    over the merged row equals the batch report bit-for-bit."""
    from locopy_spark.queries.stats import (
        ANOVA_GROUPS,
        welch_report,
        welch_state,
    )
    from locopy_spark.streaming.stateful import monoid_merge, welch_spec

    rows = [
        (i, ANOVA_GROUPS[g], float(v), _dt(1995, 3, 1))
        for i, (g, v) in enumerate(vals)
    ]
    schema = (
        "o_orderkey long, o_orderpriority string, o_totalprice double,"
        " o_orderdate timestamp"
    )
    rnd.shuffle(rows)
    n_chunks = rnd.randrange(1, 5)
    chunks = [c for c in (rows[i::n_chunks] for i in range(n_chunks)) if c]
    schema_state, merge = welch_spec()
    state = spark.createDataFrame([], schema_state)
    seen = []
    for c in chunks:
        seen.extend(c)
        part = welch_state(spark.createDataFrame(c, schema))
        state = monoid_merge(state, part, merge).localCheckpoint()
        got = [tuple(r) for r in welch_report(state).collect()]
        want = [
            tuple(r)
            for r in welch_report(
                welch_state(spark.createDataFrame(seen, schema))
            ).collect()
        ]
        assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),                  # priority index
            st.integers(1, 500),                # value (dense: real ties)
        ),
        min_size=1,
        max_size=30,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=8, deadline=None)
def test_stream_moods_grid_chunking_invariant(spark, vals, rnd):
    """The Mood's grid is a plain-sum monoid; the grand median (and
    every k×2 cell) moves between chunks, and the chi² finisher over
    the merged grid equals the batch report after every prefix."""
    from locopy_spark.queries.stats import (
        ANOVA_GROUPS,
        levene_state,
        moods_report,
    )
    from locopy_spark.streaming.stateful import LEVENE_GRID_SPEC, monoid_merge

    rows = [
        (i, ANOVA_GROUPS[g], float(v), _dt(1995, 3, 1))
        for i, (g, v) in enumerate(vals)
    ]
    schema = (
        "o_orderkey long, o_orderpriority string, o_totalprice double,"
        " o_orderdate timestamp"
    )
    rnd.shuffle(rows)
    n_chunks = rnd.randrange(1, 5)
    chunks = [c for c in (rows[i::n_chunks] for i in range(n_chunks)) if c]
    grid = spark.createDataFrame([], LEVENE_GRID_SPEC[0])
    seen = []
    for c in chunks:
        seen.extend(c)
        part = levene_state(spark.createDataFrame(c, schema))
        grid = monoid_merge(grid, part, LEVENE_GRID_SPEC[1]).localCheckpoint()
        got = [tuple(r) for r in moods_report(grid).collect()]
        want = [
            tuple(r)
            for r in moods_report(
                levene_state(spark.createDataFrame(seen, schema))
            ).collect()
        ]
        assert got == want
