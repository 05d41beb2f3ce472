"""Dedup operators on planted duplicates/near-duplicates."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays on "
        "and the parade marches through the quiet town square at noon today"
    )
    rows = []
    for i in range(40):
        rows.append((i, f"distinct document number {i} " + " ".join(f"w{i}_{j}" for j in range(30))))
    # exact dup pair
    rows.append((100, base))
    rows.append((101, base))
    # near dups (one word changed)
    rows.append((200, base))
    rows.append((201, base.replace("noon", "dusk")))
    # unrelated
    rows.append((300, "completely different content " + " ".join(f"z{j}" for j in range(40))))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, ["doc_id"], "text").toPandas()
    dupes = out[out.copies > 1]
    # (100,101) identical; 200 shares their text too → one digest with 3 copies
    assert len(dupes) == 1 and dupes.iloc[0].copies == 3
    assert dupes.iloc[0].doc_id == 100  # min-key winner


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs, ["doc_id"], "text", 64, 5)
    pairs = dedup.lsh_candidate_pairs(sigs, ["doc_id"], 64, 16)
    est = dedup.minhash_jaccard_estimate(pairs, sigs, "doc_id").toPandas()
    found = set(map(tuple, est[["doc_id_a", "doc_id_b"]].values))
    assert (100, 101) in found and (100, 200) in found
    assert (200, 201) in found  # near-dup caught by banding
    ident = est[(est.doc_id_a == 100) & (est.doc_id_b == 101)]
    assert (ident.jaccard_est == 1.0).all()
    near = est[(est.doc_id_a == 200) & (est.doc_id_b == 201)]
    assert (near.jaccard_est > 0.6).all()
    # no false pair against the unrelated doc
    assert not any(300 in p for p in found)


def test_simhash_near_dups(docs):
    sims = dedup.simhash_signatures(docs, ["doc_id"], "text")
    pairs = dedup.simhash_near_dup_pairs(sims, "doc_id", max_hamming=6).toPandas()
    found = set(map(tuple, pairs[["doc_id_a", "doc_id_b"]].values))
    assert (100, 101) in found  # identical → hamming 0
    assert (200, 201) in found
    h0 = pairs[(pairs.doc_id_a == 100) & (pairs.doc_id_b == 101)]
    assert (h0.hamming == 0).all()


def test_ngram_jaccard(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.5).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].values))
    assert (100, 101) in found
    j = out[(out.id_a == 100) & (out.id_b == 101)].jaccard.iloc[0]
    assert j == 1.0


def test_simhash_signature_goldens(spark):
    """Fixed-input goldens for the JVM SimHash UDF — any change to
    tokenization, the polynomial/fmix64 hash, or the vote packing shows up
    here. The values were produced by the numpy kernel it replaced
    (``signature_oracles.batch_simhash``)."""
    base = (
        "the quick brown fox jumps over the lazy dog while the band plays on "
        "and the parade marches through the quiet town square at noon today"
    )
    texts = [base, base.replace("noon", "dusk"), "", "   ", "one", "x\t y\nz",
             "completely unrelated words here"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}), "doc_id long, text string"
    )
    rows = dedup.simhash_signatures(df, ["doc_id"], "text").orderBy("doc_id").collect()
    sig = [r.simhash for r in rows]
    assert sig[:-1] == [
        -3950139006177707604,
        -3950140105689892692,
        0,
        0,
        -4718084096354523802,
        9030847160802041190,
    ]
    # near-dup hamming stays small, unrelated text is far
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sig[0], sig[1]) <= 6
    assert ham(sig[0], sig[-1]) > 15


def test_embedding_near_dup_lsh_matches_brute(spark):
    """Banded LSH (the default/validated path) must find every pair the
    brute-force twin finds on planted near-dups — recall 1.0 — and its plan
    must not contain a cartesian product. All-zero vectors (undefined
    cosine) yield no pairs in either method instead of a division by zero
    under ANSI mode."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((30, 32)).astype(np.float32)
    rows = [(i, list(map(float, v))) for i, v in enumerate(base)]
    # planted near-dups: tiny perturbations of vectors 0..4
    for j in range(5):
        v = base[j] + rng.standard_normal(32).astype(np.float32) * 0.02
        rows.append((100 + j, list(map(float, v))))
    zeros = [(900, [0.0] * 32), (901, [0.0] * 32)]
    for extra in ([], zeros):
        df = spark.createDataFrame(
            pd.DataFrame(rows + extra, columns=["vec_id", "embedding"])
        )
        lsh = dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", min_cosine=0.95)
        brute = dedup.embedding_near_dup_pairs(
            df, "vec_id", "embedding", min_cosine=0.95, method="brute"
        )
        lp = lsh.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
        bp = brute.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
        assert len(bp) >= 5  # the plants are found by the oracle
        pd.testing.assert_frame_equal(lp, bp, check_dtype=False)
        assert not {900, 901} & (set(lp.id_a) | set(lp.id_b))
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan[:1500]


def test_degenerate_docs_dont_blow_up_banding(spark):
    """1k empty/whitespace-only docs must NOT form a quadratic (band, bucket)
    reducer (round-2 VERDICT #3): they get NULL minhash / zero simhash
    signatures and are excluded from banding (exact-dup material), so the
    candidate-pair count stays linear while real near-dups are still found."""
    n_empty = 1000
    rows = [(i, "" if i % 4 else "   ") for i in range(n_empty)]
    # distinct docs — no token shared between any two
    rows += [
        (2000 + i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(100)
    ]
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows += [(5000, base), (5001, base.replace("today", "again"))]
    rows += [(6000, base + " twin"), (6001, base + " twin")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    sigs = dedup.minhash_signatures(df, ["doc_id"], "text", 64, 5)
    assert sigs.filter("minhash IS NULL").count() == n_empty
    pairs = dedup.lsh_candidate_pairs(sigs, ["doc_id"], 64, 16).toPandas()
    assert not ((pairs.doc_id_a < n_empty) | (pairs.doc_id_b < n_empty)).any()
    assert len(pairs) < 50  # linear, not the ~500k an empty-doc bucket makes
    assert (5000, 5001) in set(map(tuple, pairs[["doc_id_a", "doc_id_b"]].values))

    sims = dedup.simhash_signatures(df, ["doc_id"], "text")
    spairs = dedup.simhash_near_dup_pairs(sims, "doc_id", max_hamming=6).toPandas()
    assert not ((spairs.doc_id_a < n_empty) | (spairs.doc_id_b < n_empty)).any()
    # identical pair (hamming 0 — banding-guaranteed) survives the guards
    assert (6000, 6001) in set(map(tuple, spairs[["doc_id_a", "doc_id_b"]].values))


@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_banding_bucket_cap_drops_giant_clusters(spark, op):
    """A (band, bucket) bigger than max_bucket_size is dropped before the
    self-join — a 300-identical-item cluster yields ZERO pairs at cap 100
    (it is exact-dup material), while an unrelated planted near-dup pair
    survives. Runs through each operator's banding."""
    import numpy as np

    if op == "embedding":
        rng = np.random.default_rng(5)
        hot, near = rng.standard_normal((2, 16))
        twin = near + rng.standard_normal(16) * 0.01
        rows = [(i, hot.tolist()) for i in range(300)]
        rows += [(1000, near.tolist()), (1001, twin.tolist())]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
        pairs = dedup.embedding_near_dup_pairs(
            df, "vec_id", "embedding", min_cosine=0.95, max_bucket_size=100
        ).toPandas()
        a, b = pairs.id_a, pairs.id_b
    else:
        base = (
            "the quick brown fox jumps over the lazy dog while the band plays on "
            "and the parade marches through the quiet town square at noon today"
        )
        rows = [(i, "identical cluster content shared by every doc here") for i in range(300)]
        rows += [(1000, base), (1001, base.replace("noon", "dawn"))]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        if op == "minhash":
            sigs = dedup.minhash_signatures(df, ["doc_id"], "text", 64, 5)
            pairs = dedup.lsh_candidate_pairs(
                sigs, ["doc_id"], 64, 16, max_bucket_size=100
            ).toPandas()
        else:
            sims = dedup.simhash_signatures(df, ["doc_id"], "text")
            pairs = dedup.simhash_near_dup_pairs(
                sims, "doc_id", max_hamming=3, max_bucket_size=100
            ).toPandas()
        a, b = pairs.doc_id_a, pairs.doc_id_b
    assert not ((a < 300) | (b < 300)).any()
    assert (1000, 1001) in set(zip(a, b))


@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_pair_operators_run_signature_udf_once(spark, docs, op):
    """The banding core checkpoints a signature frame that still carries its
    UDF, so the returned plan has no signature UDF and no Python stage (the
    cap aggregate and both self-join sides read the checkpoint instead of
    replaying the UDF). A pre-checkpointed input gets no second checkpoint:
    the same call runs exactly one job fewer."""
    import numpy as np

    sc = spark.sparkContext
    if op == "embedding":
        vecs = np.random.default_rng(3).standard_normal((20, 8))
        sig = spark.createDataFrame(
            pd.DataFrame({"vec_id": range(20), "embedding": [v.tolist() for v in vecs]})
        )
        call = lambda s: dedup.embedding_near_dup_pairs(
            s, "vec_id", "embedding", min_cosine=0.5
        )
    elif op == "minhash":
        sig = dedup.minhash_signatures(docs, ["doc_id"], "text", 64, 5)
        call = lambda s: dedup.lsh_candidate_pairs(s, ["doc_id"], 64, 16)
    else:
        sig = dedup.simhash_signatures(docs, ["doc_id"], "text")
        call = lambda s: dedup.simhash_near_dup_pairs(s, "doc_id", max_hamming=6)

    def jobs_of(frame, group):
        sc.setJobGroup(group, group)
        try:
            out = call(frame)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    out, raw_jobs = jobs_of(sig, f"udf-once-{op}-raw")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "llm_tab_cleaner_" not in plan, plan[:1500]
    assert out.count() > 0
    if op != "embedding":  # its signature UDF is internal: always checkpointed
        _, pre_jobs = jobs_of(sig.localCheckpoint(eager=True), f"udf-once-{op}-pre")
        assert pre_jobs == raw_jobs - 1


def test_ngram_jaccard_short_docs_dont_crash(spark):
    # docs with fewer than n tokens used to hit sequence(1, 0) → [1, 0] →
    # slice(toks, 0, 3) → SparkRuntimeException; they must just yield no grams
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["one two", "x", "", "a b c a b c"]}
    )
    df = spark.createDataFrame(pdf)
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, min_jaccard=0.1).toPandas()
    assert set(map(tuple, out[["id_a", "id_b"]].values)) == set()


def test_char_ngrams_short_strings_empty(spark):
    from llm_tab_cleaner_spark.operators import text_analysis as TA

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["ab", "abcde", ""]})
    df = spark.createDataFrame(pdf)
    out = df.select(
        "doc_id",
        TA.char_ngrams(F.col("text"), 5).alias("grams"),
        TA.rolling_hash_fingerprints(F.col("text"), 8, 1).alias("fps"),
    ).toPandas().set_index("doc_id")
    assert list(out.loc[1, "grams"]) == []  # shorter than n → no bogus grams
    assert list(out.loc[2, "grams"]) == ["abcde"]
    assert list(out.loc[1, "fps"]) == [] and list(out.loc[3, "fps"]) == []


def test_chunk_documents(spark):
    from llm_tab_cleaner_spark.operators import text_analysis as TA

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a" * 450, "short", ""]})
    out = TA.chunk_documents(
        spark.createDataFrame(pdf), "doc_id", "text", chunk_chars=200, overlap=50
    ).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    # starts: 1, 151, 301 (step 150, while start <= len-overlap=400)
    assert list(d1.char_start) == [1, 151, 301]
    assert [len(c) for c in d1.chunk] == [200, 200, 150]
    # overlap: chunk k's last 50 chars == chunk k+1's first 50
    assert d1.chunk.iloc[0][-50:] == d1.chunk.iloc[1][:50]
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.chunk.iloc[0] == "short"
    assert (out.doc_id != 3).all()  # empty doc yields nothing
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        TA.chunk_documents(spark.createDataFrame(pdf), "doc_id", "text", 100, 100)


def test_stopword_ratio(spark):
    from pyspark.sql import functions as F
    from llm_tab_cleaner_spark.operators import text_analysis as TA

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["the cat and the dog", "xyzzy qwerty", ""]})
    out = (
        spark.createDataFrame(pdf)
        .select("doc_id", TA.stopword_ratio(F.col("text")).alias("r"))
        .toPandas().set_index("doc_id")
    )
    assert out.loc[1, "r"] == 0.6  # the, and, the of 5 tokens
    assert out.loc[2, "r"] == 0.0
    assert out.loc[3, "r"] == 0.0


def test_connected_components_hand_graph(spark):
    """Two clusters + a chain: component = min reachable id; isolated ids
    (absent from pairs) are absent from the output by contract."""
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"id_a": [1, 2, 10, 20, 21], "id_b": [2, 3, 11, 21, 22]}
        )
    )
    got = dedup.connected_components(pairs, "id_a", "id_b").toPandas()
    comp = dict(zip(got.id, got.component))
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    """A 12-hop chain exercises multi-iteration propagation (hash-min needs
    ~diameter rounds) and still lands everything on the min id."""
    n = 13
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    got = dedup.connected_components(pairs, "id_a", "id_b").toPandas()
    assert set(got.component) == {0}
    assert sorted(got.id) == list(range(n))


def test_near_dup_keep_one_winner_per_cluster(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 7, 10, 11], "text": ["x"] * 6})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    )
    kept = dedup.near_dup_keep(df, "doc_id", pairs).toPandas()
    # winners 1 and 10 survive their clusters; 7 (no pair) passes through
    assert sorted(kept.doc_id) == [1, 7, 10]


def test_connected_components_nonconvergence_raises(spark):
    # distributed path forced (driver_edge_limit=0): a 5-node chain has
    # diameter 4 and cannot settle in one hash-min round
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 2, 3], "id_b": [1, 2, 3, 4]})
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(
            pairs, "id_a", "id_b", max_iters=1, driver_edge_limit=0
        )


def test_connected_components_paths_agree(spark):
    """Driver union-find shortcut and the distributed hash-min loop return
    identical (id, component) labels."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    pairs = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    fast = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs, "id_a", "id_b").collect()
    }
    dist = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            pairs, "id_a", "id_b", driver_edge_limit=0
        ).collect()
    }
    assert fast == dist and fast


def test_strip_duplicate_paragraphs(spark):
    from llm_tab_cleaner_spark.operators.dedup import strip_duplicate_paragraphs

    boiler = "Licensed for research use only."
    docs = [
        (0, boiler + "\n\nalpha body one\n\nshared section"),
        (1, boiler + "\n \n beta body two \n\n\nshared section"),  # ws-ridden seps
        (2, boiler),                      # nothing but the boilerplate
        (3, ""),                          # empty doc
        (4, "gamma\n\ngamma\n\ngamma"),   # intra-doc duplicates
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in strip_duplicate_paragraphs(
            spark.createDataFrame(docs, "doc_id bigint, text string"), "doc_id", "text"
        ).collect()
    }
    assert len(out) == 5
    # doc 0 is the first occurrence of everything it contains
    assert out[0]["text_deduped"] == boiler + "\n\nalpha body one\n\nshared section"
    assert out[0]["n_paras"] == 3 and out[0]["n_paras_kept"] == 3
    # doc 1 loses the boilerplate AND the shared section, keeps its trimmed body
    assert out[1]["text_deduped"] == "beta body two"
    assert out[1]["n_paras"] == 3 and out[1]["n_paras_kept"] == 1
    # doc 2 loses its only paragraph
    assert out[2]["text_deduped"] == "" and out[2]["n_paras_kept"] == 0
    # empty doc: zero paragraphs, empty output
    assert out[3] == {"doc_id": 3, "text_deduped": "", "n_paras": 0, "n_paras_kept": 0}
    # intra-doc dup: first position survives
    assert out[4]["text_deduped"] == "gamma"
    assert out[4]["n_paras"] == 3 and out[4]["n_paras_kept"] == 1


def test_simhash_block_permutation_equivalence(spark):
    """Manku block-permutation banding: the FINAL verified pair set must be
    IDENTICAL for every legal `blocks` value (verification filters by true
    hamming; banding only controls candidate generation, and the pigeonhole
    guarantee means no true pair is missed at any width). blocks=6/d=3 is
    the full-corpus operating point (20 tables, ~32-bit keys)."""
    from llm_tab_cleaner_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [(i, base + f"suffix{i % 7}") for i in range(60)]
    rows += [(100 + i, f"unique doc {i} with words " + "filler " * (i + 3)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sims = dedup.simhash_signatures(df, ["doc_id"], "text").localCheckpoint(eager=True)

    def pairset(blocks):
        p = dedup.simhash_near_dup_pairs(
            sims, "doc_id", max_hamming=3, blocks=blocks
        ).toPandas()
        return set(map(tuple, p[["doc_id_a", "doc_id_b", "hamming"]].values))

    p4, p5, p6 = pairset(4), pairset(5), pairset(6)
    assert p4, "fixture produced no near-dup pairs — weaken the suffixes"
    assert p4 == p5 == p6

    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(sims, "doc_id", max_hamming=4, blocks=4)


def test_decontaminate(spark):
    from llm_tab_cleaner_spark.operators.dedup import decontaminate

    eval_q = "what is the capital of france paris obviously"
    docs = [
        (0, "some training text with no overlap at all here"),
        (1, "prefix text then what is the capital of france paris obviously and more"),
        (2, "short doc"),                        # < n tokens → never flagged
        (3, "what is the capital of spain madrid obviously"),  # shares exactly
        # ONE 5-gram with the eval doc ("what is the capital of")
    ]
    bench = spark.createDataFrame([(100, eval_q)], "doc_id bigint, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in decontaminate(
            spark.createDataFrame(docs, "doc_id bigint, text string"),
            "doc_id", "text", bench, n=5,
        ).collect()
    }
    assert len(out) == 4
    assert not out[0]["contaminated"] and out[0]["n_matching_grams"] == 0
    # doc 1 embeds the full 8-token eval doc → all 4 of its 5-grams match
    assert out[1]["contaminated"] and out[1]["n_matching_grams"] == 4
    assert not out[2]["contaminated"]
    assert out[3]["contaminated"] and out[3]["n_matching_grams"] == 1
    # min_matching_grams raises the bar above both matches
    strict = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(
            spark.createDataFrame(docs, "doc_id bigint, text string"),
            "doc_id", "text", bench, n=5, min_matching_grams=5,
        ).collect()
    }
    assert not strict[1] and not strict[3]
