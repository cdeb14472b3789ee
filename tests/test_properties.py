"""Property-based checks (hypothesis) for operators whose semantics are
easy to state and easy to get subtly wrong."""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdatasearchpro_spark.operators.asof import asof_join

_BASE = datetime.datetime(2024, 1, 1)


def _rows(spec):
    """spec: list of (key, seconds_offset, value)."""
    return [
        (k, _BASE + datetime.timedelta(seconds=s), float(v)) for k, s, v in spec
    ]


row_strategy = st.tuples(
    st.integers(0, 3),          # key: few keys -> collisions guaranteed
    st.integers(0, 1000),       # seconds offset: duplicates possible
    st.integers(-100, 100),     # value
)


@settings(max_examples=12, deadline=None)
@given(
    left=st.lists(row_strategy, min_size=1, max_size=12),
    right=st.lists(row_strategy, min_size=0, max_size=12),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    """For every left row the operator must attach the right row with the
    greatest ts <= left.ts in the same key group (ties on ts resolved to
    that shared ts), or null when none exists — checked against an O(n*m)
    brute force."""
    l_df = spark.createDataFrame(
        _rows(left), "k int, ts timestamp, lv double"
    ).withColumn("lid", F.monotonically_increasing_id())
    r_df = spark.createDataFrame(_rows(right), "k int, ts timestamp, rv double")

    got = {
        r["lid"]: (r["matched_ts"], r["rv"])
        for r in asof_join(
            l_df, r_df, on="k", ts_col="ts", right_cols={"rv": "rv"}
        ).collect()
    }

    rt = _rows(right)
    for row in l_df.collect():
        candidates = [
            (ts, v) for (k, ts, v) in rt if k == row["k"] and ts <= row["ts"]
        ]
        if not candidates:
            expect = (None, None)
        else:
            best_ts = max(ts for ts, _ in candidates)
            # deterministic tie-break: greatest payload among peers wins
            expect = (best_ts, max(v for ts, v in candidates if ts == best_ts))
        assert got[row["lid"]] == expect, (row["k"], row["ts"])


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(st.text("abcdef ", min_size=0, max_size=40), min_size=1, max_size=6))
def test_quality_stats_ratios_bounded(spark, texts):
    """Quality metrics are ratios/counts: punct+stopword ratios in [0,1],
    token count 0 only for blank text."""
    from bigdatasearchpro_spark.operators.textstats import quality_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in quality_stats(df).collect():
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert r["n_tokens"] >= 0
        if not texts[r["doc_id"]].strip():
            assert r["n_tokens"] == 0


def test_asof_null_payload_pairs_with_its_own_timestamp(spark):
    """A newest right row with a NULL payload must yield (its ts, NULL),
    never an older row's value stitched to the newer timestamp."""
    import datetime

    from pyspark.sql import functions as F  # noqa: F401

    base = datetime.datetime(2024, 1, 1)

    def t(m):
        return base + datetime.timedelta(minutes=m)

    l_df = spark.createDataFrame([(1, t(60), 0.0)], "k int, ts timestamp, lv double")
    r_df = spark.createDataFrame(
        [(1, t(0), 5.0), (1, t(30), None)], "k int, ts timestamp, rv double"
    )
    row = asof_join(l_df, r_df, on="k", ts_col="ts", right_cols={"rv": "rv"}).first()
    assert row["matched_ts"] == t(30)
    assert row["rv"] is None  # the 10:30 match really had NULL


def test_asof_join_composite_key(spark):
    """Multi-column key: matches must respect BOTH key parts."""
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def t(m):
        return base + datetime.timedelta(minutes=m)

    l_df = spark.createDataFrame(
        [(1, "x", t(60)), (1, "y", t(60)), (2, "x", t(60))],
        "k1 int, k2 string, ts timestamp",
    )
    r_df = spark.createDataFrame(
        [(1, "x", t(10), 1.0), (1, "y", t(20), 2.0), (2, "z", t(30), 3.0)],
        "k1 int, k2 string, ts timestamp, rv double",
    )
    got = {
        (r.k1, r.k2): (r.matched_ts, r.rv)
        for r in asof_join(
            l_df, r_df, on=["k1", "k2"], ts_col="ts", right_cols={"rv": "rv"}
        ).collect()
    }
    assert got[(1, "x")] == (t(10), 1.0)
    assert got[(1, "y")] == (t(20), 2.0)
    assert got[(2, "x")] == (None, None)  # (2,'z') must not leak across k2


def _brute_proximity(tokens, terms, slop):
    """Ordered position-window reference model: exists positions
    p0 < p1 < ... < p_{k-1} of terms in order with
    p_last - p_first <= k-1+slop."""
    k = len(terms)

    def rec(i, prev, first):
        for p, t in enumerate(tokens):
            if t == terms[i] and p > prev and p - first <= k - 1 + slop:
                if i == k - 1:
                    return True
                if rec(i + 1, p, first):
                    return True
        return False

    for p0, t in enumerate(tokens):
        if t == terms[0] and (k == 1 or rec(1, p0, p0)):
            return True
    return False


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    terms=st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=3),
    slop=st.integers(0, 3),
)
def test_proximity_expr_matches_bruteforce(spark, docs, terms, slop):
    from bigdatasearchpro_spark.operators.search import proximity_expr

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id
        for r in df.filter(proximity_expr("text", terms, slop)).collect()
    }
    want = {i for i, toks in enumerate(docs) if _brute_proximity(toks, terms, slop)}
    assert got == want


def test_resample_interpolate_known_values(spark):
    from bigdatasearchpro_spark.operators.asof import resample_interpolate

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 30), 10.0),
        (1, datetime.datetime(2024, 1, 1, 2, 30), 30.0),
        (2, datetime.datetime(2024, 1, 1, 5, 0), 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    got = {
        (r.user_id, r.ts.hour): r.interp_value
        for r in resample_interpolate(df).collect()
    }
    # key 1 grid: 00:00 (before first obs -> clamp to 10), 01:00 and
    # 02:00 interpolate on the 0:30->2:30 segment (15 and 25)
    assert got[(1, 0)] == 10.0
    assert got[(1, 1)] == 15.0
    assert got[(1, 2)] == 25.0
    # key 2: single observation, grid point at its own truncation clamps
    assert got[(2, 5)] == 7.0


def _brute_phrase_prefix(toks, terms):
    head, last = terms[:-1], terms[-1]
    for p in range(len(toks) - len(head)):
        if toks[p : p + len(head)] == head and toks[p + len(head)].startswith(last):
            return True
    return False


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "ab", "ba", "bb", "a"]), min_size=0, max_size=10
        ),
        min_size=1,
        max_size=8,
    ),
    terms=st.lists(st.sampled_from(["aa", "ab", "a", "b"]), min_size=1, max_size=3),
)
def test_phrase_prefix_expr_matches_bruteforce(spark, docs, terms):
    from bigdatasearchpro_spark.operators.search import phrase_prefix_expr

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id for r in df.filter(phrase_prefix_expr("text", terms)).collect()
    }
    want = {i for i, toks in enumerate(docs) if _brute_phrase_prefix(toks, terms)}
    assert got == want


def _brute_lww_candidates(rows, order_idx, keep="last"):
    """The nulls-lose lexicographic order dedup_last_write_wins
    documents, as an iterated reduction: per order column, keep rows at
    the non-null max (``'last'``) or min (``'first'``); keep all when
    every value is null."""
    pick = max if keep == "last" else min
    cand = list(rows)
    for i in order_idx:
        vals = [r[i] for r in cand if r[i] is not None]
        if vals:
            m = pick(vals)
            cand = [r for r in cand if r[i] == m]
    return cand


def test_lww_dedup_null_shift_regression(spark):
    """Pinned falsifying pair from the round-5 judge: two rows that
    differ ONLY in which order column is null. Spark's xxhash64 skips
    null inputs, so a fingerprint over the bare columns collided here
    (both rows hashed 4657342768694505361) and the winner-recovery
    semi-join resurrected an arbitrary row. Nulls-lose semantics make
    (0, 0, None, 'x') the unique valid survivor."""
    from bigdatasearchpro_spark.operators.dedup import dedup_last_write_wins

    rows = [(0, None, 0, "x"), (0, 0, None, "x")]
    df = spark.createDataFrame(rows, "k int, o1 int, o2 int, payload string")
    out = dedup_last_write_wins(df, "k", ["o1", "o2"], keep="last").collect()
    assert [(r["k"], r["o1"], r["o2"], r["payload"]) for r in out] == [
        (0, 0, None, "x")
    ]


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                               # key
            st.one_of(st.none(), st.integers(0, 3)),         # order col 1
            st.one_of(st.none(), st.integers(0, 3)),         # order col 2
            st.sampled_from(["x", "y", "z"]),                # payload
        ),
        min_size=1,
        max_size=20,
    ),
    keep=st.sampled_from(["last", "first"]),
)
def test_lww_dedup_survivor_properties(spark, rows, keep):
    """For any input and either ``keep``: exactly one survivor per key;
    the survivor is in the brute-force nulls-lose lexicographic
    candidate set; and the result is identical under a different
    partitioning."""
    from bigdatasearchpro_spark.operators.dedup import dedup_last_write_wins

    df = spark.createDataFrame(rows, "k int, o1 int, o2 int, payload string")
    out = dedup_last_write_wins(df, "k", ["o1", "o2"], keep=keep).collect()
    keys = [r["k"] for r in out]
    assert sorted(keys) == sorted(set(k for k, *_ in rows))  # one per key
    by_key = {}
    for t in rows:
        by_key.setdefault(t[0], []).append(t)
    for r in out:
        cand = _brute_lww_candidates(by_key[r["k"]], [1, 2], keep)
        assert (r["k"], r["o1"], r["o2"], r["payload"]) in cand
    again = dedup_last_write_wins(
        df.repartition(7, "payload"), "k", ["o1", "o2"], keep=keep
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=14),
        min_size=1,
        max_size=6,
    ),
    bench=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=14),
        min_size=1,
        max_size=3,
    ),
)
def test_fuzzy_decontaminate_matches_bruteforce_jaccard(spark, docs, bench):
    """For any tiny corpus/benchmark: the flagged (doc, bench) pair set
    equals brute-force distinct-3-gram Jaccard at threshold 3/10, with
    exact intersection/size counts."""
    from bigdatasearchpro_spark.operators.curation import fuzzy_decontaminate

    n = 3

    def shingles(toks):
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    d_rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    b_rows = [(100 + i, " ".join(t)) for i, t in enumerate(bench)]
    ddf = spark.createDataFrame(d_rows, "doc_id long, text string")
    bdf = spark.createDataFrame(b_rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["bench_id"]): (r["inter"], r["n_doc"], r["n_bench"])
        for r in fuzzy_decontaminate(
            ddf, bdf, n=n, thr_num=3, thr_den=10
        ).collect()
    }
    expect = {}
    for i, dt in enumerate(docs):
        A = shingles(dt)
        for j, bt in enumerate(bench):
            B = shingles(bt)
            inter = len(A & B)
            union = len(A) + len(B) - inter
            if A and B and inter > 0 and 10 * inter >= 3 * union:
                expect[(i, 100 + j)] = (inter, len(A), len(B))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    quotas=st.dictionaries(
        st.sampled_from(["s0", "s1", "s2"]),
        st.integers(0, 6),
        min_size=1,
        max_size=3,
    ),
    n_rows=st.integers(1, 24),
)
def test_domain_mixture_properties(spark, quotas, n_rows):
    """For any quotas and corpus: each domain yields min(quota, domain
    size) rows, ranks are 1..k contiguous, and the same ids are drawn
    regardless of input partitioning."""
    from bigdatasearchpro_spark.operators.curation import domain_mixture

    rows = [(i, f"s{i % 3}") for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture(df, quotas).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r["rank_in_domain"])
    for dom, ranks in by_dom.items():
        size = sum(1 for _, s in rows if s == dom)
        assert sorted(ranks) == list(range(1, min(quotas.get(dom, 0), size) + 1))
    for dom, q in quotas.items():
        size = sum(1 for _, s in rows if s == dom)
        if min(q, size) > 0:
            assert len(by_dom.get(dom, [])) == min(q, size)
    again = domain_mixture(df.repartition(5, "doc_id"), quotas).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


@given(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
        max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_bpe_count_invariants(text):
    """Pure-Python BPE properties on arbitrary text: counts are
    bounded by (words <= count <= utf8 bytes), deterministic, and the
    per-word encoding concatenates back to the word's bytes."""
    from bigdatasearchpro_spark.functions.bpe import (
        bpe_count_text,
        bpe_encode_word,
    )

    n = bpe_count_text(text)
    words = text.split()
    assert n == bpe_count_text(text)  # deterministic
    assert n >= len(words)
    assert n <= len(text.encode("utf-8"))
    if not words:
        assert n == 0
    for w in words[:5]:
        parts = bpe_encode_word(w)
        # lossless: latin-1 symbol concat == the word's utf-8 bytes
        assert "".join(parts).encode("latin-1") == w.encode("utf-8")
        assert all(parts)  # never an empty symbol


@settings(max_examples=6, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-89.99, max_value=89.99),
            st.floats(min_value=-179.99, max_value=179.99),
        ),
        min_size=1,
        max_size=8,
    ),
    precision=st.integers(min_value=1, max_value=6),
)
def test_geohash_column_math_equals_interval_halving(spark, pts, precision):
    """Property: the bit-interleave geohash Column equals the classic
    interval-halving reference for arbitrary coordinates/precisions."""
    from bigdatasearchpro_spark.operators import geo
    from tests.test_geo import _geohash_py

    # points within float-absorption distance of a CELL BOUNDARY are
    # excluded: there the closed-form floor and the interval-halving
    # reference legitimately differ by one ulp of rounding (e.g. a
    # subnormal lon + 180.0 absorbs to exactly 180.0). The engine
    # contract only needs both ENGINES to agree, and both run the same
    # floor form; this twin check pins the formula everywhere else.
    total_bits = 5 * precision
    lon_step = 360.0 / (1 << ((total_bits + 1) // 2))
    lat_step = 180.0 / (1 << (total_bits // 2))

    def off_boundary(v, lo0, step):
        frac = (v - lo0) / step
        return abs(frac - round(frac)) > 1e-6

    keep = [
        (la, lo)
        for la, lo in pts
        if off_boundary(la, -90.0, lat_step) and off_boundary(lo, -180.0, lon_step)
    ]
    if not keep:
        return
    df = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in keep], "lat double, lon double"
    )
    rows = df.select(
        "lat", "lon",
        geo.geohash_cell(F.col("lat"), F.col("lon"), precision).alias("gh"),
    ).collect()
    for r in rows:
        assert r["gh"] == _geohash_py(r["lat"], r["lon"], precision)


@settings(max_examples=6, deadline=None)
@given(
    verts=st.lists(
        st.tuples(
            st.floats(min_value=-80.0, max_value=80.0),
            st.floats(min_value=-170.0, max_value=170.0),
        ),
        min_size=3,
        max_size=7,
        unique=True,
    ),
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-85.0, max_value=85.0),
            st.floats(min_value=-175.0, max_value=175.0),
        ),
        min_size=1,
        max_size=10,
    ),
)
def test_geo_polygon_column_math_equals_pnpoly(spark, verts, pts):
    """Property: the multiplied-through crossing terms equal the
    classic division-form PNPOLY for arbitrary polygons and points
    (skipping points that sit numerically ON an edge, where both
    formulations are legitimately tie-sensitive)."""
    from bigdatasearchpro_spark.operators import geo
    from tests.test_geo import _pnpoly_py

    poly = [(float(a), float(b)) for a, b in verts]
    if all(a == poly[0][0] for a, _ in poly):
        return  # degenerate: every edge horizontal, no ray crossings
    df = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in pts], "lat double, lon double"
    )
    got = {
        (r["lat"], r["lon"])
        for r in geo.geo_polygon_filter(
            df, "lat", "lon", polygon=poly, prefilter=False
        ).collect()
    }
    for la, lo in pts:
        on_edge = False
        n = len(poly)
        for i in range(n):
            y1, x1 = poly[i]
            y2, x2 = poly[(i + 1) % n]
            if y1 != y2 and (y1 > la) != (y2 > la):
                xi = (x2 - x1) * (la - y1) / (y2 - y1) + x1
                if abs(lo - xi) < 1e-9:
                    on_edge = True
        if on_edge:
            continue
        assert ((la, lo) in got) == _pnpoly_py(la, lo, poly), (la, lo, poly)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab c"), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    terms=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3,
                   unique=True),
    ordered=st.booleans(),
    max_gaps=st.integers(0, 4),
)
def test_intervals_match_vs_bruteforce(spark, docs, terms, ordered, max_gaps):
    """intervals_match_expr == an O(positions^k) Python brute force:
    some assignment of one position per term fits in a window of
    k-1+max_gaps (ordered: strictly increasing positions in term
    order)."""
    from itertools import product as iproduct

    from bigdatasearchpro_spark.operators.search import intervals_match_expr

    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]
        for r in df.filter(
            intervals_match_expr("text", terms, ordered=ordered,
                                 max_gaps=max_gaps)
        ).collect()
    }

    def brute(text: str) -> bool:
        toks = [t for t in text.lower().split() if t]
        pos = [[i for i, t in enumerate(toks) if t == term] for term in terms]
        if any(not p for p in pos):
            return False
        k = len(terms)
        for combo in iproduct(*pos):
            if ordered and any(b <= a for a, b in zip(combo, combo[1:])):
                continue
            if max(combo) - min(combo) <= k - 1 + max_gaps:
                return True
        return False

    expect = {i for i, t in enumerate(texts) if brute(t)}
    assert got == expect, (texts, terms, ordered, max_gaps)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text("abc# .123", min_size=0, max_size=60), min_size=1, max_size=5
    )
)
def test_gopher_rules_match_python_twin(spark, texts):
    """Every rule boolean equals an independent Python recomputation
    on arbitrary text (integer cross-multiplication semantics)."""
    from bigdatasearchpro_spark.operators.curation import (
        GOPHER_STOPS,
        gopher_rules,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in gopher_rules(df, min_words=2).collect()}
    for i, t in enumerate(texts):
        words = [w for w in t.strip().split() if w]
        n = len(words)
        sum_wl = sum(len(w) for w in words)
        n_sym = sum(1 for w in words if w == "#" or "..." in w)
        n_alpha = sum(1 for w in words if any(c.isalpha() and c.isascii()
                                              for c in w))
        stops = len({w.lower() for w in words} & set(GOPHER_STOPS))
        r = got[i]
        assert r["n_words"] == n
        assert r["r_word_count"] == (2 <= n <= 100_000)
        assert r["r_mean_word_len"] == (3 * n <= sum_wl <= 10 * n)
        assert r["r_symbol"] == (100 * n_sym <= 10 * n)
        assert r["r_alpha"] == (100 * n_alpha >= 80 * n)
        assert r["r_stopwords"] == (stops >= 2)


def test_simple_query_string_never_throws_property(spark):
    """The ES lenient contract as a property: ANY byte soup parses to
    SOME query — no exception, ever."""
    from hypothesis import given, settings, strategies as st

    from bigdatasearchpro_spark.operators.querystring import (
        parse_simple_query_string,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.text(
        alphabet=st.sampled_from(list('ab c"()|+-*~1\t')), max_size=40))
    def check(q):
        for op in ("or", "and"):
            node = parse_simple_query_string(q, default_operator=op)
            assert node is not None

    check()


def test_substring_dedup_is_idempotent_property(spark):
    """After ExactSubstr dedup, a second pass finds nothing: every
    duplicated k-window was removed the first time."""
    import random

    from bigdatasearchpro_spark.operators.curation import substring_dedup

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = substring_dedup(df, window_tokens=5, min_count=2)
    again = substring_dedup(
        once.select("doc_id", F.col("clean_text").alias("text")),
        window_tokens=5, min_count=2,
    ).collect()
    assert all(r.n_removed == 0 for r in again)


def test_eql_head_matching_vs_python_twin(spark):
    """EQL sequence results equal a brute-force sequential matcher on
    random event streams (head matching: earliest qualifying
    extension, id tie-break)."""
    import datetime as dt
    import random

    from bigdatasearchpro_spark.operators.eql import eql_sequence

    rng = random.Random(5)
    types = ["a", "b", "c"]
    rows = []
    eid = 0
    for user in range(6):
        t = dt.datetime(2024, 1, 1)
        for _ in range(rng.randrange(3, 15)):
            t = t + dt.timedelta(minutes=rng.randrange(1, 30))
            rows.append((eid, t, user, rng.choice(types)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    within = 3600
    got = sorted(
        (r.user_id, r.id_1, r.id_2)
        for r in eql_sequence(
            df, [{"event_type": "a"}, {"event_type": "b"}],
            by="user_id", within_seconds=within,
        ).collect()
    )

    def twin():
        out = []
        by_user = {}
        for e in rows:
            by_user.setdefault(e[2], []).append(e)
        for user, evs in by_user.items():
            evs.sort(key=lambda e: (e[1], e[0]))
            for e1 in evs:
                if e1[3] != "a":
                    continue
                cand = [
                    e2 for e2 in evs
                    if e2[3] == "b" and e2[1] > e1[1]
                    and (e2[1] - e1[1]).total_seconds() <= within
                ]
                if cand:
                    best = min(cand, key=lambda e: (e[1], e[0]))
                    out.append((user, e1[0], best[0]))
        return sorted(out)

    assert got == twin()


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=1000), min_size=2, max_size=30)
)
def test_change_point_matches_bruteforce_twin(spark, vals):
    """The detector's split equals an independent Python argmax of
    |mean(left) - mean(right)| over every split, with the earlier
    bucket key winning exact double ties (same IEEE ops both sides)."""
    from bigdatasearchpro_spark.operators import aggs

    buckets = spark.createDataFrame(
        [(k, v) for k, v in enumerate(vals, start=1)],
        "key long, doc_count long",
    )
    [r] = aggs.change_point_agg(buckets, "doc_count").collect()
    best = None
    n = len(vals)
    for k in range(1, n):  # split after the k-th bucket
        left = sum(vals[:k]) / k
        right = sum(vals[k:]) / (n - k)
        delta = abs(right - left)
        # strictly-greater keeps the earliest key on exact ties
        if best is None or delta > best[0]:
            best = (delta, k + 1, left, right)
    assert r["key"] == best[1]
    assert r["mean_delta"] == best[0]
    assert r["left_mean"] == best[2]
    assert r["right_mean"] == best[3]


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text("ab ", min_size=0, max_size=40), min_size=1, max_size=5
    )
)
def test_intra_doc_dedup_python_twin(spark, texts):
    """Segment counts and clean_text equal a direct Python
    first-occurrence dedup of the 2-token chunking on arbitrary text."""
    from bigdatasearchpro_spark.operators.curation import intra_doc_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in intra_doc_dedup(df, seg_tokens=2).collect()
    }
    for i, t in enumerate(texts):
        toks = [w for w in __import__("re").split(r"[^a-z0-9]+", t.lower()) if w]
        segs = [" ".join(toks[j : j + 2]) for j in range(0, len(toks), 2)]
        seen, kept = set(), []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        r = got[i]
        assert r["n_segments"] == len(segs)
        assert r["n_removed"] == len(segs) - len(kept)
        assert r["clean_text"] == " ".join(kept)


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(
        st.text("abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12),
        min_size=1,
        max_size=40,
    )
)
def test_soundex_matches_spark_builtin(spark, words):
    """Our portable soundex chain equals Spark's independent Java
    implementation (F.soundex) on arbitrary alphabetic words — an
    external validation of the vowel-separator / hw-transparent /
    run-collapse rules (alpha-only: on digit-bearing analyzer tokens
    the builtin diverges by design and ours is the cross-engine
    contract)."""
    from pyspark.sql import functions as F

    from bigdatasearchpro_spark.operators.analyzers import soundex_token

    df = spark.createDataFrame([(w,) for w in set(words)], "w string")
    got = {r["w"]: r["s"] for r in df.select("w", F.soundex("w").alias("s")).collect()}
    for w in set(words):
        assert soundex_token(w).upper() == got[w], w


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(
        st.text(alphabet="abcXYZ019._", min_size=1, max_size=12),
        min_size=1, max_size=5,
    ),
    sep=st.sampled_from([" ", " | ", ", ", "\t", " -> "]),
)
def test_dissect_compile_roundtrip_property(vals, sep):
    """Any dissect template of k keys joined by a fixed separator
    extracts back exactly the values it was built from, provided the
    values don't contain the separator (the dissect contract)."""
    import re as _re

    from bigdatasearchpro_spark.operators.grok import compile_dissect

    vals = [v for v in vals if sep.strip() == "" or sep not in v]
    if not vals or any(sep in v for v in vals):
        return
    pattern = sep.join("%{f" + str(i) + "}" for i in range(len(vals)))
    line = sep.join(vals)
    regex, fields = compile_dissect(pattern)
    m = _re.match(regex, line)
    assert m is not None, (pattern, line)
    assert list(m.groups()) == vals
    assert fields == [f"f{i}" for i in range(len(vals))]


@settings(max_examples=40, deadline=None)
@given(
    word=st.text(alphabet="abczXYZ09_", min_size=1, max_size=10),
    n=st.integers(min_value=-999999, max_value=999999),
    level=st.sampled_from(["TRACE", "DEBUG", "INFO", "WARN", "ERROR",
                           "FATAL", "CRITICAL", "WARNING"]),
    tail=st.text(alphabet="abc xyz.,-019", min_size=0, max_size=30),
)
def test_grok_compile_roundtrip_property(word, n, level, tail):
    """%{WORD} %{INT} %{LOGLEVEL} %{GREEDYDATA} extract back exactly
    the components any conforming line was built from (Python re on
    the compiled pattern — same regex the JVM runs)."""
    import re as _re

    from bigdatasearchpro_spark.operators.grok import compile_grok

    line = f"{word} {n} {level} {tail}"
    regex, fields = compile_grok(
        "%{WORD:w} %{INT:n:int} %{LOGLEVEL:lvl} %{GREEDYDATA:rest}")
    m = _re.search(regex, line)
    assert m is not None, line
    assert m.group(1) == word
    assert int(m.group(2)) == n
    assert m.group(3) == level
    assert m.group(4) == tail
    assert [f for f, _ in fields] == ["w", "n", "lvl", "rest"]


def test_query_string_parser_is_total_property():
    """The FULL query_string parser (which, like ES, rejects malformed
    syntax) must be TOTAL: arbitrary byte soup either parses to an AST
    or raises ValueError — never an IndexError / KeyError /
    RecursionError escaping from the recursive-descent internals."""
    from hypothesis import given, settings, strategies as st

    from bigdatasearchpro_spark.operators.querystring import (
        parse_query_string,
    )

    @settings(max_examples=400, deadline=None)
    @given(st.lists(
        st.sampled_from(
            list('ab c:"()[]{}~^*?|&!+-\\/<>=.19\t')
            + ["AND ", " OR ", "NOT ", " TO "]
        ),
        max_size=30,
    ))
    def check(q):
        try:
            node = parse_query_string("".join(q))
        except ValueError:
            return
        assert node is not None

    check()


def test_script_compiler_is_total_property():
    """The Painless-subset compiler must be TOTAL: arbitrary token
    soup either compiles to an AST or raises ValueError — no internal
    IndexError / RecursionError escapes the recursive descent."""
    from hypothesis import given, settings, strategies as st

    from bigdatasearchpro_spark.operators.scripting import Script

    @settings(max_examples=400, deadline=None)
    @given(st.lists(
        st.sampled_from([
            "1", "2.5", "+", "-", "*", "/", "(", ")", " ",
            "doc['a'].value", "params.p", "_score",
            "Math.floor(", "Math.abs(", "doc['", "'].value", ".",
        ]),
        max_size=25,
    ))
    def check(parts):
        try:
            Script("".join(parts))
        except ValueError:
            return

    check()


def test_dissect_compiler_is_total_property():
    """compile_dissect on arbitrary template soup either compiles or
    raises ValueError — no internal exception class escapes."""
    from hypothesis import given, settings, strategies as st

    from bigdatasearchpro_spark.operators.grok import compile_dissect

    @settings(max_examples=400, deadline=None)
    @given(st.lists(
        st.sampled_from([
            "%{a}", "%{}", "%{?skip}", "%{+a}", "%{b->}", "%{+}",
            " ", "-", "[", "]", "%{", "}", "x", "%{a", "->",
        ]),
        max_size=15,
    ))
    def check(parts):
        try:
            regex, fields = compile_dissect("".join(parts))
        except ValueError:
            return
        assert fields

    check()


def test_grok_compiler_is_total_property():
    """compile_grok on arbitrary expression soup — unknown patterns,
    unbalanced %{, self-referential definitions, broken literal regex
    — either compiles to a VALID regex or raises ValueError (PUT-time
    validation, like ES grok)."""
    from hypothesis import given, settings, strategies as st

    from bigdatasearchpro_spark.operators.grok import compile_grok

    @settings(max_examples=400, deadline=None)
    @given(st.lists(
        st.sampled_from([
            "%{WORD:w}", "%{IP}", "%{NOPE:x}", "%{", "}", ":", " ",
            "(", ")", "[", "\\", "%{SELF:s}", "a", "%{WORD", "*",
        ]),
        max_size=12,
    ))
    def check(parts):
        import re as _re

        try:
            regex, fields = compile_grok(
                "".join(parts), {"SELF": "%{SELF}"})
        except ValueError:
            return
        assert fields
        _re.compile(regex)  # must never raise past compile_grok

    check()
