"""Property-based tests (hypothesis) for conservation/consistency laws."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from opentsdb_spark.model import DownsampleSpec, RateOptions
from opentsdb_spark.operators.downsample import downsample
from opentsdb_spark.operators.groupby import cross_series_aggregate
from opentsdb_spark.operators.rate import rate
from tests.conftest import EPOCH, substituted

_slow = settings(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50_000),          # ts offset seconds
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        st.sampled_from(["a", "b", "c"]),                    # host tag
    ),
    min_size=1, max_size=60,
    unique_by=lambda t: (t[0], t[2]),
)


def _df(spark, pts):
    df = spark.createDataFrame(
        [("m", (EPOCH + t) * 1000, float(v), {"h": h}) for t, v, h in pts],
        "metric string, ts_ms long, value double, tags map<string,string>",
    )
    return df.select("metric", F.timestamp_millis("ts_ms").alias("ts"), "value", "tags")


# --- JEXL expression rewriter property ---------------------------------------
# Random expression trees rendered to the query grammar must evaluate exactly
# like Java doubles under JEXL (ExpressionIterator.java:346): IEEE division/
# modulo (x/0 -> +-Inf, 0/0 and x%0 -> NaN, % is truncated fmod), ternaries
# anywhere an operand can appear, NULL propagation.

_vals = st.sampled_from([0.0, 1.0, -3.5, 2.0, 7.25, -1.0, 100.0])

_safe_leaf = st.one_of(
    st.sampled_from([("var", "a"), ("var", "b")]),
    st.builds(lambda v: ("const", v), _vals),
)
# comparison operands avoid / and % (Spark orders NaN above all doubles,
# Java IEEE comparisons return false — a documented engine difference we
# keep out of conditions)
_safe_tree = st.recursive(
    _safe_leaf,
    lambda ch: st.builds(lambda op, l, r: ("bin", op, l, r),
                         st.sampled_from("+-*"), ch, ch),
    max_leaves=4,
)
_tree = st.recursive(
    _safe_leaf,
    lambda ch: st.one_of(
        st.builds(lambda op, l, r: ("bin", op, l, r), st.sampled_from("+-*/%"), ch, ch),
        st.builds(lambda n: ("neg", n), ch),
        st.builds(
            lambda cop, c1, c2, t, f: ("tern", cop, c1, c2, t, f),
            st.sampled_from([">", "<", ">=", "<=", "==", "!="]),
            _safe_tree, _safe_tree, ch, ch,
        ),
    ),
    max_leaves=10,
)


def _render(n) -> str:
    k = n[0]
    if k == "var":
        return n[1]
    if k == "const":
        return repr(n[1])
    if k == "neg":
        return f"-({_render(n[1])})"
    if k == "bin":
        return f"({_render(n[2])} {n[1]} {_render(n[3])})"
    _, cop, c1, c2, t, f = n
    return f"(({_render(c1)}) {cop} ({_render(c2)}) ? ({_render(t)}) : ({_render(f)}))"


def _eval_java(n, env):
    k = n[0]
    if k == "var":
        return env[n[1]]
    if k == "const":
        return n[1]
    if k == "neg":
        v = _eval_java(n[1], env)
        return None if v is None else -v
    if k == "bin":
        _, op, l, r = n
        a, b = _eval_java(l, env), _eval_java(r, env)
        if a is None or b is None:
            return None
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            if b == 0.0:
                if math.isnan(a) or a == 0.0:
                    return math.nan
                return math.inf if a > 0 else -math.inf
            return a / b
        if b == 0.0 or math.isinf(a):  # % (JLS 15.17.3: NaN; fmod raises)
            return math.nan
        return math.fmod(a, b)  # Java % truncates like Spark's Remainder
    _, cop, c1, c2, t, f = n
    x, y = _eval_java(c1, env), _eval_java(c2, env)
    cond = False
    if x is not None and y is not None:
        cond = {">": x > y, "<": x < y, ">=": x >= y, "<=": x <= y,
                "==": x == y, "!=": x != y}[cop]
    return _eval_java(t if cond else f, env)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tree=_tree, a=st.one_of(st.none(), _vals), b=st.one_of(st.none(), _vals))
def test_expression_rewriter_matches_java_semantics(spark, tree, a, b):
    from opentsdb_spark.operators.join import evaluate_expression

    df = spark.createDataFrame([(a, b)], "v_a double, v_b double")
    expr = _render(tree)
    got = evaluate_expression(df, expr, ("a", "b")).collect()[0]["value"]
    want = _eval_java(tree, {"a": a, "b": b})
    if want is None:
        assert got is None, (expr, got)
    elif math.isnan(want):
        assert got is not None and math.isnan(got), (expr, got)
    else:
        assert got == want, (expr, got, want)


@_slow
@given(pts=points_strategy, interval_s=st.sampled_from([60, 600, 3600]))
def test_downsample_sum_conserves_total(spark, pts, interval_s):
    """Σ bucket sums == Σ raw values, any interval (buckets partition time)."""
    df = _df(spark, pts)
    out = downsample(df, DownsampleSpec(interval_s * 1000, "sum"))
    total = out.agg(F.sum("value")).collect()[0][0]
    expected = sum(v for _, v, _ in pts)
    assert total == pytest.approx(expected, rel=1e-9, abs=1e-6)


@_slow
@given(pts=points_strategy)
def test_zimsum_equals_per_ts_sum(spark, pts):
    """zimsum across series == plain per-timestamp sum (ZIM zeros are inert)."""
    df = _df(spark, pts)
    out = cross_series_aggregate(df, "zimsum", ())
    got = {int(r["ts"].timestamp()) - EPOCH: r["value"] for r in out.collect()}
    expected: dict[int, float] = {}
    for t, v, _ in pts:
        expected[t] = expected.get(t, 0.0) + v
    assert set(got) == set(expected)
    for t in expected:
        assert got[t] == pytest.approx(expected[t], rel=1e-9, abs=1e-6)


@_slow
@given(pts=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000),
              st.floats(min_value=0, max_value=1e6, allow_nan=False, width=32)),
    min_size=2, max_size=30, unique_by=lambda t: t[0]))
def test_rate_telescopes(spark, pts):
    """Σ rate·dt telescopes to last − first (fundamental theorem, discrete)."""
    pts = sorted(pts)
    df = _df(spark, [(t, v, "a") for t, v in pts])
    out = rate(df).orderBy("ts").collect()
    ts = [t for t, _ in pts]
    total = sum(r["value"] * (ts[i + 1] - ts[i]) for i, r in enumerate(out))
    assert total == pytest.approx(pts[-1][1] - pts[0][1], rel=1e-9, abs=1e-3)


@_slow
@given(pts=points_strategy)
def test_mimmax_is_max(spark, pts):
    """mimmax at each union timestamp == max over present values (sentinels
    never leak into output)."""
    df = _df(spark, pts)
    out = cross_series_aggregate(df, "mimmax", ())
    got = {int(r["ts"].timestamp()) - EPOCH: r["value"] for r in out.collect()}
    expected: dict[int, float] = {}
    for t, v, _ in pts:
        expected[t] = max(expected.get(t, -math.inf), v)
    for t in expected:
        assert got[t] == pytest.approx(expected[t], rel=1e-9, abs=1e-6)


ts_strategy = st.integers(min_value=0, max_value=4 * 366 * 86_400)  # 2013-2016 (leap incl.)


@_slow
@given(offs=st.lists(ts_strategy, min_size=1, max_size=40, unique=True),
       unit_n=st.sampled_from([("d", 2), ("d", 7), ("w", 3), ("n", 3), ("n", 5),
                               ("h", 6), ("m", 15), ("y", 2)]),
       tz=st.sampled_from(["UTC", "America/New_York", "Asia/Tokyo"]))
def test_calendar_bucket_laws(spark, offs, unit_n, tz):
    """previousInterval laws for any N-multiple, unit, timezone:
    idempotent (bucket(bucket(t)) == bucket(t)), at-or-before (bucket <= t),
    and local-boundary-aligned (bucket starts at local midnight / hour /
    minute / month / year start per unit)."""
    from opentsdb_spark.operators.downsample import calendar_bucket_col

    unit, n = unit_n
    df = spark.createDataFrame([((EPOCH + o) * 1000,) for o in offs], "ms long") \
        .select(F.timestamp_millis("ms").alias("ts"))
    b = calendar_bucket_col(F.col("ts"), unit, tz, n)
    out = df.select(
        "ts", b.alias("b"),
        calendar_bucket_col(b, unit, tz, n).alias("bb"),
        F.from_utc_timestamp(b, tz).alias("lb"),
    ).collect()
    for r in out:
        assert r["bb"] == r["b"], f"not idempotent: {r}"
        assert r["b"] <= r["ts"], f"bucket after point: {r}"
        lb = r["lb"]
        assert lb.second == 0 and lb.microsecond == 0
        if unit in ("h", "d", "w", "n", "y"):
            assert lb.minute == 0
        if unit in ("d", "w", "n", "y"):
            assert lb.hour == 0
        if unit in ("n", "y"):
            assert lb.day == 1
        if unit == "w":
            assert lb.weekday() == 0  # ISO Monday (pinned deviation)
        if unit == "y":
            assert lb.month == 1


@_slow
@given(pts=points_strategy)
def test_interpolation_strategies_agree_property(spark, pts):
    """pack (array-side) and join (grid-join) interpolation must agree on
    random inputs for every interpolation class (count carries zim); for
    the identity interpolations (zimsum, mimmin, mimmax) the one-groupBy
    answer must agree with substituting the identity on the union grid."""
    df = _df(spark, pts).withColumn("value_long", F.lit(None).cast("long"))
    for agg in ("sum", "zimsum", "mimmin", "mimmax", "count", "pfsum"):
        a = cross_series_aggregate(df, agg, (), strategy="pack")
        if agg in ("zimsum", "mimmin", "mimmax"):
            b = substituted(df, agg)
        else:
            b = cross_series_aggregate(df, agg, (), strategy="join")
        ra = sorted((r["ts"], r["value"]) for r in a.collect())
        rb = sorted((r["ts"], r["value"]) for r in b.collect())
        assert len(ra) == len(rb)
        for (ta, va), (tb, vb) in zip(ra, rb):
            assert ta == tb
            assert va == pytest.approx(vb, rel=1e-9, abs=1e-9), agg


@settings(max_examples=200, deadline=None)
@given(n=st.integers(1, 100_000),
       unit=st.sampled_from(["ms", "s", "m", "h", "d", "w", "n", "y"]))
def test_time_parse_laws(n, unit):
    """Duration/relative/epoch parsing laws against DateTime.java semantics:
    '<N><unit>-ago' is exactly now - parse_duration_ms('<N><unit>'); epoch
    magnitude detection (>=1e12 -> ms else seconds) round-trips; durations
    scale linearly in N."""
    from opentsdb_spark.timeparse import parse_datetime_ms, parse_duration_ms

    unit_ms = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000,
               "w": 7 * 86_400_000, "n": 30 * 86_400_000, "y": 365 * 86_400_000}
    dur = parse_duration_ms(f"{n}{unit}")
    assert dur == n * unit_ms[unit]
    now = 1_700_000_000_000
    assert parse_datetime_ms(f"{n}{unit}-ago", now_ms=now) == now - dur
    # epoch magnitude detection round-trip
    sec = 1_600_000_000 + (n % 1000)
    assert parse_datetime_ms(sec, now_ms=now) == sec * 1000
    assert parse_datetime_ms(sec * 1000, now_ms=now) == sec * 1000
    # whitespace tolerated, garbage rejected
    assert parse_duration_ms(f"  {n}{unit} ") == dur
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_duration_ms(f"{n}{unit}x")


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pts=st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 9), st.integers(0, 3),
              st.floats(-100, 100, allow_nan=False, width=32)),
    min_size=1, max_size=60),
    calendar=st.booleans(), with_rate=st.booleans())
def test_linear_rewrite_matches_generic_path(spark, pts, calendar, with_rate):
    """The linear-rate rewrite must be VALUE-equivalent to the generic
    per-series chain (downsample+fill -> rate -> aligned cross-series sum)
    on arbitrary inputs, for both fixed and calendar intervals, with and
    without the rate stage."""
    from opentsdb_spark.model import (
        DownsampleSpec, RateOptions, SubQuery, TagFilter, TSQuery,
    )
    from opentsdb_spark.operators.downsample import downsample
    from opentsdb_spark.operators.groupby import cross_series_aggregate
    from opentsdb_spark.operators.rate import rate as rate_op
    from opentsdb_spark.plans.planner import compile_query

    base = 1_700_000_000_000 - (1_700_000_000_000 % 86_400_000)
    rows = [
        ("m", base + h * 3_600_000 + (s % 4) * 60_000, v,
         {"u": f"u{g}", "s": f"s{s}"})
        for (g, s, h, v) in pts
    ]
    pts_df = spark.createDataFrame(
        rows, "metric string, ts_ms long, value double, tags map<string,string>"
    ).select("metric", F.timestamp_millis("ts_ms").alias("ts"), "value",
             F.lit(None).cast("long").alias("value_long"), "tags")
    spec = (DownsampleSpec(86_400_000, "sum", fill="zero", calendar=True,
                           calendar_unit="d")
            if calendar else DownsampleSpec(3_600_000, "sum", fill="zero"))
    start_s, end_s = base // 1000, base // 1000 + 6 * 3600
    tsq = TSQuery(start=start_s, end=end_s, queries=(SubQuery(
        metric="m", aggregator="sum", downsample=spec,
        rate=RateOptions() if with_rate else None,
        filters=(TagFilter("wildcard", "u", "*", group_by=True),),
    ),))
    [r] = compile_query(pts_df, tsq)
    got = {(row["u"], row["ts"]): round(row["value"], 6)
           for row in r.df.collect()}

    generic = downsample(pts_df, spec, start_s * 1000, end_s * 1000,
                         series_cols=("metric", "tags"))
    if with_rate:
        generic = rate_op(generic, RateOptions(),
                          series_cols=("metric", "tags"))
    generic = cross_series_aggregate(generic, "sum", ("u",), aligned=True)
    want = {(row["u"], row["ts"]): round(row["value"], 6)
            for row in generic.collect()}
    assert got == want


_prop_key = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz.0123456789_-", min_size=1, max_size=20)
_prop_val = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789=:/., -", min_size=0,
    max_size=30).map(str.strip).filter(lambda v: v[:1] not in ("=", ":"))
# leading '='/':' in a value is NOT round-trippable by design: after a
# whitespace separator java-properties skips one optional '='/':'
# ("k<TAB>:v" means k=v, not k=":v")


@given(kv=st.dictionaries(_prop_key, _prop_val, min_size=0, max_size=8),
       sep=st.sampled_from(["=", ": ", " = ", "\t", " "]))
def test_config_properties_roundtrip(kv, sep):
    """java-properties laws (Config.java's loader): any 'key<sep>value'
    rendering parses back to the exact map; comments/blank lines vanish;
    the FIRST of '='/':'/whitespace cuts the key, so separators inside a
    VALUE survive verbatim."""
    from opentsdb_spark.config import parse_properties

    text = "# comment\n! bang comment\n\n" + "\n".join(
        f"{k}{sep}{v}" for k, v in kv.items())
    parsed = parse_properties(text)
    assert parsed == kv
    # first-separator law: cuts at the first delimiter, later ones are value
    assert parse_properties("k=v:x w")["k"] == "v:x w"
    assert parse_properties("k: v=x")["k"] == "v=x"
    assert parse_properties("k v=x")["k"] == "v=x"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e", "ff"]),
             min_size=0, max_size=25).map(" ".join),
    min_size=1, max_size=20,
))
def test_shingle_udf_matches_expression_form(spark, docs):
    """The pandas-UDF n-gram builder must produce byte-identical gram
    arrays (content AND first-occurrence order) to the Column-expression
    form it replaced — the hash oracles downstream depend on it."""
    from opentsdb_spark.pipeline.dedup import _gram_frame

    n = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    fast = {r["doc_id"]: r["grams"] for r in _gram_frame(df, "text", "doc_id", n).collect()}
    # the replaced expression form, inlined as the semantics oracle
    words = df.select("doc_id", F.split(F.col("text"), r"\s+").alias("__w"))
    idx = F.sequence(F.lit(0), F.size("__w") - n)
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice("__w", i + 1, n), " "))
    )
    slow = {
        r["doc_id"]: r["grams"]
        for r in words.where(F.size("__w") >= n).select("doc_id", grams.alias("grams")).collect()
    }
    assert fast == slow


# --- paragraph dedup conservation laws ---------------------------------------
# For any corpus: (1) the surviving chunk multiset has no duplicates,
# (2) the surviving chunk SET equals the distinct-input-chunk set (dedup
# removes copies, never content), (3) each chunk survives at its minimal
# (doc_id, chunk_pos) site.

_doc_words = st.lists(st.sampled_from(["w1", "w2", "w3"]), min_size=0, max_size=9)


@given(st.lists(_doc_words, min_size=1, max_size=6))
@_slow
def test_paragraph_dedup_conservation(spark, docs_words):
    from opentsdb_spark.pipeline.text import chunk_docs, paragraph_dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_docs(docs, chunk_words=3).collect()
    out = paragraph_dedup(docs, chunk_words=3).collect()

    surviving = [
        (r["doc_id"], pos, ch)
        for r in out
        for pos, ch in enumerate(_rechunk(r["text"], 3))
    ]
    surv_chunks = [c for _, _, c in surviving]
    assert len(surv_chunks) == len(set(surv_chunks))  # (1)
    assert set(surv_chunks) == {c["chunk"] for c in chunks}  # (2)
    first_site = {}
    for c in sorted(chunks, key=lambda c: (c["doc_id"], c["chunk_pos"])):
        first_site.setdefault(c["chunk"], c["doc_id"])
    for did, _, ch in surviving:
        assert first_site[ch] == did  # (3)
    assert sum(r["n_kept"] for r in out) == len(set(surv_chunks))


def _rechunk(text, n):
    ws = text.split()
    return [" ".join(ws[i:i + n]) for i in range(0, len(ws), n)]


# --- parser robustness: any m= spec either parses or raises ValueError ------

_spec_chars = st.text(
    alphabet="abc:{}=|,*().-0123456789 ", min_size=0, max_size=40
)


@given(_spec_chars)
@settings(max_examples=300, deadline=None)
def test_m_spec_parser_total(spec):
    from opentsdb_spark.parse import parse_m_subquery

    try:
        q = parse_m_subquery(spec)
        assert q.metric  # success implies a non-empty metric slot
    except ValueError:
        pass  # the only permitted failure mode (maps to HTTP 400)


@given(_spec_chars)
@_slow
def test_gexp_parser_total(spark, spec):
    """parse_gexp either evaluates or raises ValueError — no other escape."""
    from opentsdb_spark.parse import parse_gexp

    pts = _df(spark, [(0, 1.0, "a")])
    try:
        parse_gexp(spec, pts, EPOCH * 1000, (EPOCH + 100) * 1000)
    except ValueError:
        pass


_doc_texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
             min_size=0, max_size=20).map(" ".join),
    min_size=1, max_size=12,
)


@_slow
@given(texts=_doc_texts)
def test_substring_dup_conservation(spark, texts):
    """Conservation laws of the ExactSubstr window signal: window counts
    bound dup counts, coverage is bounded by both words and k x windows,
    and cross-doc symmetry (a doc with dup windows implies >= 2 docs do)."""
    from opentsdb_spark.pipeline.dedup import substring_dup_spans

    k = 3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = substring_dup_spans(df, k=k).collect()
    assert len(rows) == len(texts)
    dup_docs = 0
    for r in rows:
        nw, nwin = r["n_words"], r["n_windows"]
        assert nwin == max(0, nw - k + 1)
        assert 0 <= r["n_dup_windows"] <= nwin
        assert 0 <= r["dup_tokens"] <= min(nw, r["n_dup_windows"] * k)
        if r["n_dup_windows"] > 0:
            # every dup window covers >= k tokens... at least k total
            assert r["dup_tokens"] >= k
            dup_docs += 1
        if nw > 0:
            assert abs(r["dup_frac"] - r["dup_tokens"] / nw) < 1e-12
    # a shared window needs two distinct docs
    assert dup_docs != 1


@_slow
@given(texts=_doc_texts)
def test_hash_embed_properties(spark, texts):
    """SRP embedding: unit norm (or absent) per doc, identical text ->
    identical vector, and determinism across two runs."""
    import math as m

    from opentsdb_spark.pipeline.text import hash_embed_docs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {r["doc_id"]: r["embedding"] for r in
           hash_embed_docs(df, dim=4, n_buckets=64).collect()}
    again = {r["doc_id"]: r["embedding"] for r in
             hash_embed_docs(df, dim=4, n_buckets=64).collect()}
    assert out == again
    for i, t in enumerate(texts):
        if not t.split():
            assert i not in out
            continue
        n = m.sqrt(sum(x * x for x in out[i]))
        assert abs(n - 1.0) < 1e-12 or n == 0.0
    for i, ti in enumerate(texts):
        for j, tj in enumerate(texts):
            if i < j and ti == tj and ti.split():
                assert out[i] == out[j]


# --- token-budget two-phase plan == direct greedy ---------------------------
# The scale-friendly two-phase selection (bucket cumsum + within-bucket
# row_number) must produce EXACTLY the direct greedy semantics: sort each
# group by (tokens desc, id asc), keep while the tokens accumulated before
# the doc are under budget.

_budget_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9999),       # doc id
        st.integers(min_value=0, max_value=30),         # token count
        st.sampled_from(["s1", "s2", "s3"]),            # source
    ),
    min_size=1, max_size=40,
    unique_by=lambda t: t[0],
)


@_slow
@given(docs=_budget_docs, budget=st.integers(min_value=0, max_value=120))
def test_token_budget_two_phase_matches_greedy(spark, docs, budget):
    from opentsdb_spark.pipeline.sampling import token_budget_select

    rows = [(i, "w " * n, s) for i, n, s in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_select(df, budget_tokens=budget).collect()
    }
    expect = set()
    for src in {s for _, _, s in docs}:
        cum = 0
        for i, n, _ in sorted(
            (d for d in docs if d[2] == src), key=lambda d: (-d[1], d[0])
        ):
            if cum < budget:
                expect.add((i, cum + n))
            cum += n
    assert got == expect


_cap_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9999),           # doc id
        st.sampled_from(["s1", "s2", "s3", None]),          # group
        st.one_of(st.none(),
                  st.floats(-1e6, 1e6, allow_nan=False)),   # quality
    ),
    min_size=1, max_size=50,
    unique_by=lambda t: t[0],
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_cap_docs, cap=st.integers(min_value=1, max_value=6),
       desc=st.booleans(), n_buckets=st.sampled_from([1, 4, 64]))
def test_cap_per_group_quality_rank_matches_sequential_property(
        spark, docs, cap, desc, n_buckets):
    """The quantized-bucket two-phase quality rank must equal the
    sequential per-group (quality nulls-last, id) row_number on ARBITRARY
    inputs — any group mix, NULL groups, NULL/duplicate/constant scores,
    any bucket count (n_buckets=1 is the degenerate one-bucket limit)."""
    from opentsdb_spark.pipeline.sampling import cap_per_group

    df = spark.createDataFrame(
        docs, "doc_id long, source string, quality double")
    got = sorted(map(tuple, cap_per_group(
        df, cap, quality_col="quality", quality_desc=desc,
        n_buckets=n_buckets).select("doc_id", "group_rank").collect()))
    expect = []
    for grp in {d[1] for d in docs}:
        members = [d for d in docs if d[1] == grp]
        members.sort(key=lambda d: (
            d[2] is None,
            (-d[2] if desc else d[2]) if d[2] is not None else 0.0,
            d[0]))
        expect.extend((d[0], rk) for rk, d in enumerate(members, 1)
                      if rk <= cap)
    assert got == sorted(expect)


_edges = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=0, max_size=40,
)


def test_connected_components_two_star_merge_regression(spark):
    """Premature-convergence regression (round 11): the state
    {11->1, 11->10} mid-merge has no target-as-source, so a convergence
    test missing the out-degree condition stopped there and emitted TWO
    labels for node 11. The full chain must collapse to min 1."""
    from opentsdb_spark.pipeline.cluster import connected_components

    df = spark.createDataFrame(
        [(10, 11), (20, 21), (11, 20), (30, 31), (1, 21)],
        "id_a long, id_b long")
    got = sorted((r["id"], r["component"])
                 for r in connected_components(df).collect())
    assert got == [(1, 1), (10, 1), (11, 1), (20, 1), (21, 1),
                   (30, 30), (31, 30)]


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges, n_docs=st.integers(1, 30))
def test_connected_components_match_union_find_property(spark, edges, n_docs):
    """large-star/small-star components equal a reference union-find on
    ARBITRARY random graphs (self-loops, duplicate and reversed edges,
    nodes outside the doc set), and leakage_safe_split keyed on them
    never splits a component."""
    from opentsdb_spark.pipeline.cluster import dedup_assign_clusters
    from opentsdb_spark.pipeline.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n_docs)], "doc_id long, text string")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long") \
        if edges else docs.limit(0).selectExpr(
            "doc_id as id_a", "doc_id as id_b")
    got = {r["doc_id"]: r["component"] for r in
           dedup_assign_clusters(docs, pairs).collect()}
    # reference union-find over the same universe
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical = min member of the component
    members: dict[int, list[int]] = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    want = {}
    for i in range(n_docs):
        r = find(i) if i in parent else i
        want[i] = min(members.get(r, [i]) + [r])
    assert got == want
    split = {r["doc_id"]: r["split"] for r in leakage_safe_split(
        docs, {"a": 0.5, "b": 0.5}, pairs).collect()}
    comp_splits: dict[int, set] = {}
    for i in range(n_docs):
        comp_splits.setdefault(want[i], set()).add(split[i])
    assert all(len(s) == 1 for s in comp_splits.values())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges, split_at=st.integers(0, 40))
def test_incremental_components_equal_full_recompute_property(
        spark, edges, split_at):
    """incremental_components(prev_labels, new_edges) must equal the full
    CC over (old ∪ new) edges, for ANY split of an arbitrary random edge
    list into an 'already labeled' prefix and a 'newly arrived' suffix —
    including new edges that merge old components, relabel a component to
    a lower min, land entirely between unseen nodes, or duplicate old
    edges."""
    from opentsdb_spark.pipeline.cluster import (
        connected_components, incremental_components)

    old, new = edges[:split_at], edges[split_at:]
    loops = {(a, b) for a, b in new if a != b}
    if not loops:
        return  # incremental needs at least one real new edge
    def cc(pairs):
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        return {r["id"]: r["component"]
                for r in connected_components(df).collect()}

    prev = cc(old) if any(a != b for a, b in old) else {}
    # prev_labels includes root rows for every labeled node (the
    # dedup_assign_clusters contract); plain dict already has them
    prev_df = spark.createDataFrame(
        list(prev.items()) or [(0, 0)], "id long, component long")
    if not prev:
        prev_df = prev_df.limit(0)
    new_df = spark.createDataFrame(new, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in incremental_components(
        prev_df, new_df, id_col="id").collect()}
    want = cc(old + new)
    # incremental covers prev nodes ∪ real-new-edge nodes; the full
    # recompute covers edge nodes only — align the universes
    covered = set(prev) | {x for e in loops for x in e}
    want = {k: v for k, v in want.items() if k in covered}
    for k in covered - set(want):
        want[k] = prev.get(k, k)  # old singleton components pass through
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges, cut1=st.integers(0, 40), cut2=st.integers(0, 40))
def test_streaming_components_compaction_split_invariance(
        spark, edges, cut1, cut2):
    """Split-invariance THROUGH the streaming labels index incl. its
    compaction path: for ANY random edge list split into three
    micro-batches at arbitrary cut points — batches may merge earlier
    components, relabel to a lower min, duplicate old edges, or be empty
    — the resolved labels after (batch, batch, COMPACT-to-one-partition,
    batch) equal the one-shot connected_components over all edges seen.
    The example-based tests pin one merge scenario; this pins the
    compaction fold (latest-wins over the __ver data column) over the
    whole split space."""
    import os as _os
    import tempfile as _tf

    from opentsdb_spark.pipeline.cluster import connected_components
    from opentsdb_spark.streaming.components import (
        components_update_batch, resolve_labels)
    from opentsdb_spark.streaming.docs import compact_index

    lo, hi = sorted((cut1, cut2))
    batches = [edges[:lo], edges[lo:hi], edges[hi:]]
    # an update needs at least one real (non-loop) edge; empty/loop-only
    # micro-batches simply don't fire the sink in production either
    batches = [b for b in batches if any(a != b2 for a, b2 in b)]
    if not batches:
        return
    seen: list = []
    with _tf.TemporaryDirectory() as d:
        path = _os.path.join(d, "labels")
        for i, b in enumerate(batches):
            components_update_batch(
                spark.createDataFrame(b, "id_a long, id_b long"),
                path, batch_id=i)
            seen.extend(b)
            if i == min(1, len(batches) - 1):  # fold mid-sequence
                compact_index(spark, path, keep_batch_id=i,
                              max_partitions=1)
        got = {r["id"]: r["component"]
               for r in resolve_labels(spark, path).collect()}
    want = {r["id"]: r["component"] for r in connected_components(
        spark.createDataFrame(seen, "id_a long, id_b long")).collect()}
    assert got == want
