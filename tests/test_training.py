"""[EXT] Training-data pipeline operators: semantics + plan contracts.

Value-exactness vs DuckDB is covered by test_registry_oracle (the
ext_* training queries); these tests pin the operator *semantics*
(packing invariants, sampling determinism, resample multiplicities)
and the physical-plan contracts (codegen path, no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.training import (
    bigram_long_form,
    domain_resample,
    gopher_quality_gate,
    pack_sequences,
    repetition_profile,
    scrub_text,
    stratified_sample,
    token_long_form,
    uniform_hash_u32,
)
from dissertation_data_pipeline_spark.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_pack_sequences_partitions_every_doc_once(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    packed = pack_sequences(docs, budget=512)
    rows = packed.collect()
    # every document lands in exactly one sequence
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # sequence ids are dense from 0 per shard and spans don't overlap:
    # consecutive seq_ids have non-overlapping [first_doc, last_doc]
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, seqs in by_src.items():
        seqs.sort(key=lambda r: r["seq_id"])
        assert [s["seq_id"] for s in seqs] == list(range(len(seqs)))
        for a, b in zip(seqs, seqs[1:]):
            assert a["last_doc"] < b["first_doc"]
    # exclusive-cumsum semantics: every sequence except possibly the
    # shard's last one reaches the budget (a doc straddles the cut)
    for src, seqs in by_src.items():
        for s in seqs[:-1]:
            assert s["seq_tokens"] >= 512 - 200  # docs are < ~120 tokens


def test_stratified_sample_is_deterministic_and_rate_shaped(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    rate = F.lit(50)  # 50% of every stratum
    a = sorted(r["doc_id"] for r in stratified_sample(docs, rate).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, rate).collect())
    assert a == b  # same rows every run — md5, not a session RNG
    n = docs.count()
    assert 0.35 * n < len(a) < 0.65 * n
    # monotone: a higher rate strictly contains the lower-rate sample
    big = sorted(r["doc_id"] for r in stratified_sample(docs, F.lit(80)).collect())
    assert set(a) <= set(big)


def test_domain_resample_multiplicities(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(30)
    out = domain_resample(docs, F.lit(3)).groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in out)
    idx = domain_resample(docs.limit(1), F.lit(4)).select("copy_idx").collect()
    assert sorted(r["copy_idx"] for r in idx) == [1, 2, 3, 4]


def test_gopher_gate_flags_degenerate_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on a mat and looked out of the window to rest"),
            (2, "word"),  # too short
            (3, "aa " * 20 + "aa"),  # no stopwords
            (4, "pneumonoultramicroscopics " * 15),  # mean word length high
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["keep"] for r in gopher_quality_gate(df).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


def test_repetition_profile_detects_repeats(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam eggs"), (2, "all tokens here are unique")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    assert got[1]["top_token_frac"] == 0.8
    assert got[1]["top_bigram_frac"] == 0.75  # "spam spam" 3 of 4
    assert got[2]["distinct_ratio"] == 1.0
    assert got[2]["top_token_frac"] == 0.2


def _long_form_docs(spark):
    return spark.createDataFrame(
        [(1, "a b a"), (2, "x  y"), (3, "solo"), (4, "")],
        "doc_id int, text string",
    )


def test_token_long_form_positions(spark):
    rows = token_long_form(_long_form_docs(spark)).collect()
    got = sorted(tuple(r) for r in rows)
    assert got == [
        (1, 0, "a"), (1, 1, "b"), (1, 2, "a"),
        (2, 0, "x"), (2, 1, ""), (2, 2, "y"),  # a double space is an empty token
        (3, 0, "solo"),
        (4, 0, ""),
    ]


def test_bigram_long_form_pairs_adjacent_tokens(spark):
    rows = bigram_long_form(_long_form_docs(spark)).collect()
    got = sorted(tuple(r) for r in rows)
    assert got == [(1, "a b"), (1, "b a"), (2, " y"), (2, "x ")]


def test_long_forms_share_one_token_stream(spark):
    """repetition_profile puts token and bigram counts in one row, so
    every document with n >= 2 tokens must have exactly n - 1 bigrams
    built from the same tokens, empty ones included."""
    df = _long_form_docs(spark)
    toks = token_long_form(df).groupBy("doc_id").count().collect()
    bigs = bigram_long_form(df).groupBy("doc_id").count().collect()
    n_tok = {r.doc_id: r["count"] for r in toks}
    n_big = {r.doc_id: r["count"] for r in bigs}
    assert n_big == {d: n - 1 for d, n in n_tok.items() if n >= 2}


def test_scrub_text_removes_urls_and_emails(spark):
    df = spark.createDataFrame(
        [(1, "Visit HTTPS://A.example/x?y=1  or  mail Bob.Smith+x@ex.org now")],
        "doc_id int, text string",
    )
    [r] = df.select(scrub_text(F.col("text")).alias("s")).collect()
    assert r["s"] == "visit or mail now"


def test_training_plans_stay_on_codegen_path(spark, sf_dir):
    """No Python UDF stages (BatchEvalPython / ArrowEvalPython) in any
    training-operator plan — the whole module is JVM-side."""
    docs = _docs(spark, sf_dir)
    plans = [
        repetition_profile(docs),
        gopher_quality_gate(docs),
        pack_sequences(docs, budget=512),
        stratified_sample(docs, F.lit(30)),
        domain_resample(docs, F.lit(2)),
    ]
    for df in plans:
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in physical
        assert "ArrowEvalPython" not in physical


def test_uniform_hash_matches_reference_value(spark):
    """Pin the md5-uniform definition: first 8 hex digits of
    md5(cast(id as string)) — the cross-engine contract the oracle
    relies on."""
    import hashlib

    [r] = (
        spark.range(42, 43)
        .select(uniform_hash_u32(F.col("id")).alias("h"))
        .collect()
    )
    assert r["h"] == int(hashlib.md5(b"42").hexdigest()[:8], 16)


def test_decontaminate_report_finds_planted_overlap(spark):
    from dissertation_data_pipeline_spark.operators.training import (
        decontaminate_report,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated words about spark shuffles and joins"),
            (3, "the quick brown fox jumps high"),  # shares 3-grams with eval 100
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over a fence")],
        "doc_id long, text string",
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in decontaminate_report(train, eval_df, min_overlap=2).collect()
    }
    # doc 1 shares: "the quick brown","quick brown fox","brown fox jumps","fox jumps over" = 4
    # doc 3 shares the first three = 3; doc 2 shares none
    assert got == {(1, 100): 4, (3, 100): 3}


def test_chunk_documents_windows_and_containment(spark):
    from dissertation_data_pipeline_spark.operators.training import chunk_documents

    mk = lambda n: " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, mk(40)), (2, mk(30)), (3, mk(10)), (4, mk(100))],
        "doc_id long, text string",
    )
    out = chunk_documents(df, window=32, stride=24)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["start_pos"], r["chunk_tokens"]))
        for r in out.collect()
    )
    by_doc = {}
    for d, i, s, n in rows:
        by_doc.setdefault(d, []).append((i, s, n))
    # 40 tokens -> [0:32] and [24:40]
    assert by_doc[1] == [(0, 0, 32), (1, 24, 16)]
    # 30 tokens -> single chunk covers all; start=24 chunk is contained -> dropped
    assert by_doc[2] == [(0, 0, 30)]
    assert by_doc[3] == [(0, 0, 10)]
    # 100 tokens -> starts 0,24,48,72,96; 96+8 >= 100 -> last dropped
    assert [s for _, s, _ in by_doc[4]] == [0, 24, 48, 72]
    assert by_doc[4][-1][2] == 28  # 100 - 72


def test_weighted_sample_is_deterministic_and_biased(spark):
    """Heavier rows must win more often across many independent groups,
    and resamples must be byte-identical."""
    from dissertation_data_pipeline_spark.operators.training import (
        weighted_sample_per_group,
    )

    # 200 groups, each with one heavy (w=1000) and nine light (w=10) rows
    rows = []
    for grp in range(200):
        for i in range(10):
            rows.append((grp, grp * 10 + i, 1000 if i == 0 else 10))
    df = spark.createDataFrame(rows, "grp int, doc_id long, w int")
    pick = weighted_sample_per_group(df, ["grp"], "w", 1, id_col="doc_id")
    got = {r["grp"]: r["doc_id"] for r in pick.collect()}
    assert len(got) == 200
    heavy_wins = sum(1 for g, d in got.items() if d == g * 10)
    # P(heavy wins) = 1000/1090 ~ 0.917; with 200 trials, <150 wins is
    # astronomically unlikely (and the draw is deterministic anyway)
    assert heavy_wins > 150, heavy_wins
    again = {r["grp"]: r["doc_id"] for r in pick.collect()}
    assert got == again


def test_weighted_sample_without_replacement(spark):
    from dissertation_data_pipeline_spark.operators.training import (
        weighted_sample_per_group,
    )

    df = spark.createDataFrame(
        [(1, i, 5) for i in range(4)], "grp int, doc_id long, w int"
    )
    out = weighted_sample_per_group(df, ["grp"], "w", 3, id_col="doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids)) == 3
    assert sorted(r["sample_rank"] for r in out) == [1, 2, 3]


def test_bigram_lm_scores_hand_computed(spark):
    """Add-one smoothed bigram LM on a 3-doc corpus where every
    probability is hand-computable: bigrams (a b) x2 and (a c) x1,
    history count c(a)=3, vocabulary V={b, c} -> p(b|a)=3/5,
    p(c|a)=2/5."""
    import math

    from dissertation_data_pipeline_spark.operators.training import (
        bigram_lm_scores,
    )

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert set(out) == {1, 2, 3}  # the single-token doc has no bigrams
    assert out[1]["n_bigrams"] == 1
    assert out[1]["avg_logp"] == round(math.log(3 / 5), 4)
    assert out[3]["avg_logp"] == round(math.log(2 / 5), 4)
    assert out[1]["perplexity"] == round(5 / 3, 4)
    assert out[3]["perplexity"] == round(5 / 2, 4)


def test_domain_resample_zero_copies_drops_row(spark):
    # sequence(1, 0) counts DOWN in Spark — the guard must emit zero
    # rows for n_copies<=0 (the dropped-domain case), not two phantoms
    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.training import domain_resample

    df = spark.createDataFrame(
        [Row(doc_id=1, w=3), Row(doc_id=2, w=0), Row(doc_id=3, w=-2),
         Row(doc_id=4, w=None)]
    )
    got = {}
    for r in domain_resample(df, F.col("w")).collect():
        got.setdefault(r.doc_id, []).append(r.copy_idx)
    assert got == {1: [1, 2, 3]}


def test_ccnet_buckets_semantics(spark, sf_dir):
    """Head bucket has the lowest perplexities; buckets are
    equal-frequency per language (ntile contract: sizes differ by at
    most 1); every scored doc lands in exactly one bucket."""
    from dissertation_data_pipeline_spark.operators.training import (
        bigram_lm_scores,
        ccnet_perplexity_buckets,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = ccnet_perplexity_buckets(docs).collect()
    n_scored = bigram_lm_scores(docs).count()
    assert len(out) == n_scored  # every scored doc bucketed once
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        sizes = {}
        for r in rows:
            sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, lang
        head_max = max(r.perplexity for r in rows if r.bucket == 1)
        tail_min = min(r.perplexity for r in rows if r.bucket == 3)
        assert head_max <= tail_min or abs(head_max - tail_min) < 1e-9
        assert all(
            {1: "head", 2: "middle", 3: "tail"}[r.bucket] == r.bucket_name
            for r in rows
        )
