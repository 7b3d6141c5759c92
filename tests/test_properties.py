"""Property-based tests (hypothesis): invariants of the expression library
over arbitrary inputs — the dirty-input spec of FIXTURES.md §1 generalized
from examples to properties. Each example batches many generated values
into ONE Spark job (a createDataFrame + collect), keeping runtime sane.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.functions.cleaning import (
    parse_stopovers_expr,
    row_hash_expr,
)
from airflow_project_flight_price_analysis_spark.functions.text import (
    quality_metrics,
    shingles_expr,
    tokens_expr,
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80
)
SLOW = settings(max_examples=8, deadline=None)


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_parse_stopovers_total_and_nonnegative(spark, values):
    """The parser never errors and always yields a non-negative int —
    the 'garbage → 0' contract (FIXTURES.md §1 stopovers row)."""
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    out = df.select(parse_stopovers_expr("s").alias("n")).collect()
    assert all(r.n is not None and r.n >= 0 for r in out)


@SLOW
@given(st.lists(st.tuples(TEXT, TEXT), min_size=2, max_size=30, unique=True))
def test_row_hash_injective_on_sample(spark, rows):
    """Distinct value tuples get distinct hashes; equal tuples equal
    hashes (determinism) — the dedup-correctness property the reference
    assumes but never tests (ingestion.py:69)."""
    df = spark.createDataFrame(rows, ["a", "b"])
    out = df.select("a", "b", row_hash_expr(["a", "b"]).alias("h"))
    got = out.collect()
    by_tuple = {}
    for r in got:
        by_tuple.setdefault((r.a, r.b), set()).add(r.h)
    # determinism: one hash per tuple
    assert all(len(hs) == 1 for hs in by_tuple.values())
    # injectivity on the sample: distinct tuples → distinct hashes
    all_hashes = [next(iter(hs)) for hs in by_tuple.values()]
    assert len(set(all_hashes)) == len(by_tuple)


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_quality_ratios_bounded(spark, values):
    df = spark.createDataFrame([(v,) for v in values], ["text"])
    m = quality_metrics(F.col("text"))
    out = df.select(
        m["punct_ratio"].alias("p"), m["stopword_ratio"].alias("s")
    ).collect()
    for r in out:
        assert 0.0 <= r.p <= 1.0
        assert 0.0 <= r.s <= 1.0


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=30), st.integers(2, 4))
def test_shingle_count_formula(spark, values, n):
    """len(shingles) == max(0, len(tokens) - n + 1) for every input."""
    df = spark.createDataFrame([(v,) for v in values], ["text"])
    out = (
        df.select(tokens_expr(F.col("text")).alias("toks"))
        .select(
            F.size("toks").alias("nt"),
            F.size(shingles_expr(F.col("toks"), n)).alias("ns"),
        )
        .collect()
    )
    for r in out:
        assert r.ns == max(0, r.nt - n + 1)


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_normalize_equals_two_pass_reference(spark, values):
    """The single-regex normalize must equal the classic two-pass
    strip-punctuation-then-collapse-whitespace form on ANY input —
    under the r7 UNICODE contract (alnum = \\p{L}+\\p{N}).

    The letter/number classes are read from the JVM's own character
    tables (``Character.getType``, which ``java.util.regex`` uses for
    ``\\p{L}``/``\\p{N}``), not from ``str.isalnum()``: Python and the
    JVM ship different Unicode versions (Python 3.11 has Unicode 14,
    Java 17 has Unicode 13), so a letter added in Unicode 14 such as
    U+10780 is alnum to Python but unassigned to the regex engine."""
    from airflow_project_flight_price_analysis_spark.functions.text import (
        normalize_text_expr,
    )

    jchar = spark.sparkContext._jvm.java.lang.Character
    alnum_types = {
        int(getattr(jchar, t)) for t in (
            "UPPERCASE_LETTER", "LOWERCASE_LETTER", "TITLECASE_LETTER",
            "MODIFIER_LETTER", "OTHER_LETTER",
            "DECIMAL_DIGIT_NUMBER", "LETTER_NUMBER", "OTHER_NUMBER",
        )
    }
    lowered = [v.lower() for v in values]
    alnum = {
        ch for ch in set("".join(lowered))
        if int(jchar.getType(ord(ch))) in alnum_types
    }

    df = spark.createDataFrame([(v,) for v in values], ["text"])
    got = [r.n for r in df.select(normalize_text_expr("text").alias("n")).collect()]
    for v, lv, g in zip(values, lowered, got):
        two_pass = " ".join(
            "".join(ch if ch in alnum else " " for ch in lv).split()
        )
        assert g == two_pass, (v, g, two_pass)


@SLOW
@given(st.lists(st.lists(st.text(alphabet="abcd", min_size=1, max_size=3),
                         min_size=0, max_size=12), min_size=1, max_size=20),
       st.integers(min_value=2, max_value=4))
def test_shingles_equal_python_reference(spark, token_lists, n):
    """zip_with shingles == the naive sliding-window reference for any
    token array and n (the rewrite must be semantics-preserving)."""
    from airflow_project_flight_price_analysis_spark.functions.text import (
        shingles_expr,
    )

    df = spark.createDataFrame([(t,) for t in token_lists], "toks: array<string>")
    got = [r.g for r in df.select(shingles_expr(F.col("toks"), n).alias("g")).collect()]
    for toks, g in zip(token_lists, got):
        ref = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        assert g == ref, (toks, n, g, ref)


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_pii_redaction_idempotent_and_clean(spark, values):
    """Redaction leaves no matchable PII behind (fixpoint property) and
    never nulls out a row."""
    from airflow_project_flight_price_analysis_spark.functions.text import (
        pii_counts,
        pii_redact_expr,
    )

    df = spark.createDataFrame([(v,) for v in values], ["text"])
    once = df.select(pii_redact_expr("text").alias("text"))
    counts = pii_counts("text")
    residue = once.select(
        *[c.alias(n) for n, c in counts.items()], F.col("text")
    ).collect()
    for r in residue:
        assert r.text is not None
        assert r.n_email == 0 and r.n_phone == 0 and r.n_ip == 0, r


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_pareto_frontier_matches_naive_dominance(spark, points):
    """The bucket-pruned sweep (operators/frontier.py) must equal the
    brute-force dominance definition on ARBITRARY point sets — subject
    only to its documented tie-free-x precondition, enforced here by
    de-duplicating x values (keeping the max y per x, which preserves
    the frontier)."""
    from airflow_project_flight_price_analysis_spark.operators.frontier import (
        pareto_frontier_2d,
    )

    best = {}
    for x, y in points:
        best[x] = max(best.get(x, -1), y)
    pts = [(float(x), y) for x, y in best.items()]
    naive = {
        (x, y)
        for x, y in pts
        if not any(
            (x2 >= x and y2 >= y and (x2 > x or y2 > y)) for x2, y2 in pts
        )
    }
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {(r.x, r.y) for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert got == naive


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),      # key
            st.integers(min_value=0, max_value=100),    # start
            st.integers(min_value=1, max_value=20),     # width
        ),
        min_size=1,
        max_size=50,
    )
)
def test_merge_intervals_matches_python_reference(spark, triples):
    """Island decomposition (operators/frontier.py) must equal the
    textbook sort-and-merge on ARBITRARY interval sets (overlap or
    touch merges; strict gap splits)."""
    from airflow_project_flight_price_analysis_spark.operators.frontier import (
        merge_intervals,
    )

    rows = [(k, s, s + w) for k, s, w in triples]

    def reference(ivs):
        out = {}
        bykey = {}
        for k, s, e in ivs:
            bykey.setdefault(k, []).append((s, e))
        for k, lst in bykey.items():
            merged = []
            for s, e in sorted(lst):
                if merged and s <= merged[-1][1]:
                    merged[-1] = (merged[-1][0], max(merged[-1][1], e))
                else:
                    merged.append((s, e))
            out[k] = set(merged)
        return out

    expected = reference(rows)
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = {}
    for r in merge_intervals(df, "k", "s", "e").collect():
        got.setdefault(r.k, set()).add((r.i_start, r.i_end))
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),       # group
            st.integers(min_value=-50, max_value=50),    # value
        ),
        min_size=1,
        max_size=80,
    )
)
def test_distributed_rank_equals_window_rank(spark, pairs):
    """operators/ranking.py must reproduce the per-group window
    row_number exactly on arbitrary data — for ANY sampled range
    boundaries — given a total order (unique id tie-breaker)."""
    from pyspark.sql.window import Window as W

    from airflow_project_flight_price_analysis_spark.operators.ranking import (
        distributed_rank,
    )

    rows = [(g, v, i) for i, (g, v) in enumerate(pairs)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    got = {
        (r.g, r.id): r.rank
        for r in distributed_rank(df, ["g"], ["v", "id"]).collect()
    }
    w = W.partitionBy("g").orderBy("v", "id")
    expected = {
        (r.g, r.id): r.rank
        for r in df.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),          # stratum
            st.integers(min_value=0, max_value=100_000),    # key
        ),
        min_size=20,
        max_size=80,
        unique_by=lambda t: t[1],
    )
)
def test_threshold_sample_deterministic_and_nested(spark, rows):
    """operators/sampling.py: the hash-threshold sample must be (a) a
    deterministic pure function of content (same rows → same sample on
    re-run), (b) NESTED across fractions (10% sample ⊆ 30% sample), and
    (c) roughly proportional (within generous sketch/binomial slack)."""
    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        stratified_threshold_sample,
    )

    df = spark.createDataFrame(rows, ["s", "k"])
    s10a = {r.k for r in stratified_threshold_sample(df, "s", "k", 0.1).collect()}
    s10b = {r.k for r in stratified_threshold_sample(df, "s", "k", 0.1).collect()}
    s30 = {r.k for r in stratified_threshold_sample(df, "s", "k", 0.3).collect()}
    assert s10a == s10b          # deterministic
    assert s10a <= s30           # nested
    n = len(rows)
    assert 0 < len(s30) <= n     # non-degenerate, never oversamples all+


@settings(max_examples=6, deadline=None)
@given(
    st.lists(                                   # probe rows: (key?, payload)
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    ),
    st.lists(                                   # build rows: (key?, attr)
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=0,
        max_size=20,
    ),
)
def test_salted_join_identical_to_plain_join(spark, probe_rows, build_rows):
    """operators/skew.py must be result-identical to the unsalted inner
    join on arbitrary (skewed) data. The tiny key domain makes every
    generated dataset heavily skewed by construction."""
    import collections

    from airflow_project_flight_price_analysis_spark.operators.skew import (
        salted_equi_join,
    )

    # NULL keys ride along: the contract is parity with the PLAIN join
    # (where NULL matches nothing), so the salt machinery must not
    # accidentally give NULL keys different routing (ADVICE r5 class)
    probe = spark.createDataFrame(probe_rows, "pk int, pv int")
    build = spark.createDataFrame(build_rows, "bk int, bv int")

    plain = collections.Counter(
        (r.pk, r.pv, r.bk, r.bv)
        for r in probe.join(build, probe.pk == build.bk, "inner").collect()
    )
    salted = collections.Counter(
        (r.pk, r.pv, r.bk, r.bv)
        for r in salted_equi_join(
            probe, build, "pk", "bk", buckets=4
        ).collect()
    )
    assert salted == plain


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=200),
            st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
        ),
        min_size=1,
        max_size=30,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=30,
    ),
    st.integers(min_value=-30, max_value=10),
    st.integers(min_value=0, max_value=40),
)
def test_banded_range_join_matches_bruteforce(
    spark, left_rows, right_rows, lower, span
):
    """operators/asof.py banded_range_join must equal the brute-force
    inequality join (inclusive bounds) on arbitrary generated events,
    for arbitrary look-back/look-ahead bands. Left rows carry a nullable
    payload, which must ride through the join untouched."""
    import collections

    from airflow_project_flight_price_analysis_spark.operators.asof import (
        banded_range_join,
    )

    upper = lower + span
    lrows = [(k, t, p, i) for i, (k, t, p) in enumerate(left_rows)]
    rrows = [(k, t, v, i) for i, (k, t, v) in enumerate(right_rows)]
    left = spark.createDataFrame(lrows, "k int, lts int, pay int, lid int")
    right = spark.createDataFrame(
        rrows, "k int, rts int, val int, rid int"
    )
    out = banded_range_join(
        left, right, ["k"], "lts", "rts",
        lower_seconds=lower, upper_seconds=upper,
    )
    got = collections.Counter((r.lid, r.rid) for r in out.collect())
    expected = collections.Counter(
        (lid, rid)
        for lk, lt, _p, lid in lrows
        for rk, rt, v, rid in rrows
        if lk == rk and lower <= rt - lt <= upper
    )
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_topk_per_group_matches_reference_and_prunes(spark, rows, k):
    """operators/ranking.py topk_per_group must (a) equal the Python
    per-group sort-and-slice on arbitrary data and (b) carry the
    WindowGroupLimit pre-prune in its physical plan."""
    from airflow_project_flight_price_analysis_spark.operators.ranking import (
        topk_per_group,
    )

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["g", "v", "id"])
    out = topk_per_group(df, ["g"], [F.desc("v"), "id"], k)
    got = {(r.g, r.id, r.rank) for r in out.collect()}
    import collections
    by_g = collections.defaultdict(list)
    for g, v, i in data:
        by_g[g].append((-v, i))
    expected = {
        (g, i, rk + 1)
        for g, lst in by_g.items()
        for rk, (_, i) in enumerate(sorted(lst)[:k])
    }
    assert got == expected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


# --- r7 codecs: pure-Python round trips under hypothesis -------------------

@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**40))
def test_wav_roundtrip_property(doc_id):
    """For ANY doc id, parsing the synthesized WAV recovers exactly the
    generative law (pure-Python — no Spark per example)."""
    import math

    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _parse_wav,
        _wav_bytes,
    )

    n, rate, rms, peak, ssq = _parse_wav(_wav_bytes(doc_id))
    samples = [((doc_id * 31 + i * 7) % 65536) - 32768 for i in range(n)]
    assert n == 40 + doc_id % 25
    assert rate == 8000
    assert ssq == sum(s * s for s in samples)
    assert peak == max(abs(s) for s in samples)
    assert rms == math.sqrt(ssq / n)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**40))
def test_bmp_roundtrip_property(doc_id):
    """BMP round trip for ANY doc id — storage transforms (padding,
    bottom-up, BGR) must cancel exactly."""
    from airflow_project_flight_price_analysis_spark.operators.multimodal import (
        _bmp_bytes,
        _bmp_dims,
        _parse_bmp,
    )

    w, h, sr, sg, sb = _parse_bmp(_bmp_bytes(doc_id))
    assert (w, h) == _bmp_dims(doc_id)
    exp = [sum((doc_id * 7 + p * 3 + c) % 256 for p in range(w * h))
           for c in range(3)]
    assert [sr, sg, sb] == exp


def test_bucketed_merge_matches_dict_replay(spark, tmp_path):
    """Randomized sequences of update/delete merges (deletes routed by
    ``op_col``) must equal the obvious dict semantics — the
    serializable-MERGE oracle."""
    import random

    from airflow_project_flight_price_analysis_spark.operators.transactional import (
        BucketedMergeTable,
    )

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        t = BucketedMergeTable(str(tmp_path / f"t{seed}"), "k", n_buckets=8)
        model: dict[int, str] = {}
        for step in range(4):
            keys = rng.sample(range(12), rng.randint(1, 5))
            op = rng.choice(["update", "delete"])
            rows = [(k, f"s{seed}v{step}k{k}", op) for k in keys]
            t.merge(spark,
                    spark.createDataFrame(rows, "k long, v string, op string"),
                    op_col="op")
            if op == "update":
                model.update({k: v for k, v, _ in rows})
            else:
                for k in keys:
                    model.pop(k, None)
        df = t.read(spark)
        got = {} if df is None else {r.k: r.v for r in df.collect()}
        assert got == model, f"seed {seed}: {got} != {model}"
