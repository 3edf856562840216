"""Training-pipeline operator tests: text analysis, the dedup family and
regression edges of line cleaning and sequence packing."""

import pytest
from pyspark.sql import functions as F

from fhir_data_validation_spark.pipeline import dedup, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def seeded(spark, docs):
    """Documents plus seeded near-duplicates: for doc_id < 5, a copy with
    the first word dropped (near-dup) at doc_id+10000 and an exact copy at
    doc_id+20000."""
    near = (docs.where(F.col("doc_id") < 5)
            .select((F.col("doc_id") + 10000).alias("doc_id"),
                    F.regexp_replace("text", "^[a-z0-9]+ ", "").alias("text"),
                    "lang", "source", "n_chars"))
    exact = (docs.where(F.col("doc_id") < 5)
             .select((F.col("doc_id") + 20000).alias("doc_id"), "text",
                     "lang", "source", "n_chars"))
    return docs.unionByName(near).unionByName(exact).cache()


# ------------------------------------------------------------------- text ---

def test_token_count_ws(spark, docs):
    row = docs.select("text", text.token_count_ws(F.col("text"))
                      .alias("n")).first()
    assert row["n"] == len(row["text"].split())


def test_token_count_empty(spark):
    df = spark.createDataFrame([("",), ("   ",), ("a b",)], "text string")
    got = [r["n"] for r in
           df.select(text.token_count_ws(F.col("text")).alias("n")).collect()]
    assert got == [0, 0, 2]


def test_lang_id_und_and_en(spark):
    df = spark.createDataFrame(
        [("1", "the cat and the dog of a house"),
         ("2", "zzz qqq xxx"),
         ("3", "der hund und die katze ist nicht")], "id string, text string")
    got = {r["id"]: r["l"] for r in
           df.select("id", text.lang_id(F.col("text")).alias("l")).collect()}
    assert got == {"1": "en", "2": "und", "3": "de"}


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [("A  b\tc",), ("a b c",)], "text string")
    fps = [r["f"] for r in
           df.select(text.fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_analyze_one_pass(docs):
    out = text.analyze(docs)
    assert out.columns == ["doc_id", "n_tokens_ws", "n_tokens_bpe",
                           "quality", "lang_pred", "fingerprint"]
    assert out.count() == docs.count()


# ------------------------------------------------------------------ dedup ---

def test_exact_duplicates(seeded):
    groups = dedup.exact_duplicates(seeded).collect()
    assert len(groups) == 5
    for g in groups:
        assert g["n_docs"] == 2
        assert g["keep"] == g["example_ids"][0] == min(g["example_ids"])


def test_exact_duplicates_bounded_examples(spark):
    """A pathological duplicate group yields count + min-id + capped
    examples, never an unbounded id list (scale contract)."""
    df = spark.createDataFrame([(i, "same text") for i in range(100)],
                               "doc_id long, text string")
    out = dedup.exact_duplicates(df, max_examples=5).collect()
    assert len(out) == 1
    g = out[0]
    assert g["n_docs"] == 100 and g["keep"] == 0
    assert g["example_ids"] == [0, 1, 2, 3, 4]


def test_jaccard_hot_shingle_cap(spark):
    """max_shingle_df drops a boilerplate shingle from candidate generation
    (quadratic blowup from one posting list) without changing the Jaccard
    value of pairs that also share normal shingles."""
    boiler = "click here now to subscribe and get our free daily newsletter"
    rows = [(i, f"{boiler} unique{i} filler{i} trailing{i}")
            for i in range(50)]
    # one genuine near-dup pair sharing real content beyond the boilerplate
    rows += [(100, f"{boiler} alpha beta gamma delta epsilon"),
             (101, f"{boiler} alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.jaccard_pairs(df, threshold=0.3, max_shingle_df=10)
    got = {(p["id_a"], p["id_b"]): p["jaccard"] for p in capped.collect()}
    # the 50 boilerplate-only docs share ONLY >cap shingles → no pairs
    assert all(a >= 100 for a, _ in got), got
    # uncapped, the boilerplate swamp floods the pair space (50·49/2 pairs)
    uncapped = {(p["id_a"], p["id_b"]): p["jaccard"]
                for p in dedup.jaccard_pairs(
                    df, threshold=0.3, max_shingle_df=None).collect()}
    assert len(uncapped) > 1000
    # the real pair survives, with jaccard computed over FULL shingle sets
    assert got[(100, 101)] == uncapped[(100, 101)]


def test_lsh_bucket_cap_drops_giant_cliques(spark):
    """max_bucket_size: a giant identical-text clique is excluded from LSH
    pair generation (exact_duplicates handles it at linear cost); distinct
    near-dup pairs outside the clique are still found."""
    clique = [(i, "identical boilerplate page content here") for i in range(30)]
    pair = [(100, "alpha beta gamma delta epsilon zeta eta"),
            (101, "alpha beta gamma delta epsilon zeta theta")]
    df = spark.createDataFrame(clique + pair, "doc_id long, text string")
    out = dedup.minhash_dedup(df, threshold=0.3, max_bucket_size=10).collect()
    got = {(p["id_a"], p["id_b"]) for p in out}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), got


def test_jaccard_pairs_finds_near_dups(seeded):
    pairs = dedup.jaccard_pairs(seeded, threshold=0.6).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    # each seeded trio (base, near, exact) produces 3 pairs
    for base in range(5):
        assert (base, base + 10000) in got
        assert (base, base + 20000) in got
        assert (base + 10000, base + 20000) in got
    exact = {p["jaccard"] for p in pairs
             if p["id_b"] == p["id_a"] + 20000 and p["id_a"] < 5}
    assert exact == {1.0}


def test_minhash_lsh_matches_exact_jaccard(seeded):
    exact = {(p["id_a"], p["id_b"], p["jaccard"])
             for p in dedup.jaccard_pairs(seeded, threshold=0.6).collect()}
    lsh = {(p["id_a"], p["id_b"], p["jaccard"])
           for p in dedup.minhash_dedup(seeded, threshold=0.6).collect()}
    assert lsh == exact  # 64 bands × 2 rows ⇒ recall ≈ 1 at j ≥ 0.6


def test_simhash_pairs(seeded):
    pairs = {(p["id_a"], p["id_b"]): p["hamming"]
             for p in dedup.simhash_pairs(seeded, max_distance=3).collect()}
    for base in range(5):  # exact copies at hamming 0
        assert pairs.get((base, base + 20000)) == 0


def test_dedup_unpersist_all(spark, seeded):
    dedup.jaccard_pairs(seeded, threshold=0.6).count()
    assert dedup.unpersist_all() >= 1
    assert dedup.unpersist_all() == 0


def test_duplicate_clusters(spark):
    """Connected components over pairs: chains collapse to one cluster,
    keep marks the minimum id of each component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain → component {1,2,3,4}
         (10, 11),                       # pair → {10,11}
         (20, 21), (21, 22), (20, 22)],  # triangle → {20,21,22}
        "id_a long, id_b long")
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert {d: c for d, (c, _) in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert {d for d, (_, k) in out.items() if k} == {1, 10, 20}
    dedup.unpersist_all()


def test_duplicate_clusters_fractional_ids_exact(spark):
    """Fractional ids must take the exact compare-join convergence path:
    the decimal(38,0) checksum can't see a sub-integer label change
    (regression: double ids {2.0, 2.2, 2.4} all round to 2 — sum never
    moved, the loop stopped after one round and split one component into
    two cluster ids)."""
    pairs = spark.createDataFrame([(2.4, 2.2), (2.2, 2.0)],
                                  "id_a double, id_b double")
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert {d: c for d, (c, _) in out.items()} == {
        2.0: 2.0, 2.2: 2.0, 2.4: 2.0}
    assert {d for d, (_, k) in out.items() if k} == {2.0}
    dedup.unpersist_all()


def test_duplicate_clusters_keep_best(spark):
    """quality frame flips the survivor election: each cluster keeps its
    highest-quality member (ties → min id; unscored docs lose to scored)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # {1,2,3,4}: 3 has top quality
         (10, 11),                       # {10,11}: tie → min id 10
         (20, 21), (21, 22), (20, 22)],  # {20,21,22}: only 22 scored
        "id_a long, id_b long")
    quality = spark.createDataFrame(
        [(1, 0.1), (2, 0.5), (3, 0.9), (4, 0.5),
         (10, 0.7), (11, 0.7), (22, 0.2)],
        "doc_id long, quality double")
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in dedup.duplicate_clusters(pairs, quality=quality)
                         .collect()}
    assert {d: c for d, (c, _) in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert {d for d, (_, k) in out.items() if k} == {3, 10, 22}
    dedup.unpersist_all()


def test_duplicate_clusters_end_to_end(spark, seeded):
    """minhash pairs → clusters: each seeded trio collapses to one keeper."""
    pairs = dedup.minhash_dedup(seeded, threshold=0.6)
    out = dedup.duplicate_clusters(pairs).collect()
    label = {r["doc_id"]: r["cluster"] for r in out}
    # every seeded trio lands in ONE component (which may also absorb
    # natural near-dups present in the corpus)
    for base in range(5):
        assert label[base] == label[base + 10000] == label[base + 20000]
    # exactly one keeper per component: its minimum id
    comp = {}
    for r in out:
        comp.setdefault(r["cluster"], []).append(r)
    for c, members in comp.items():
        keepers = [m["doc_id"] for m in members if m["keep"]]
        assert keepers == [min(m["doc_id"] for m in members)] == [c]
    dedup.unpersist_all()


def test_duplicate_clusters_deep_chain_truncates_lineage(spark, tmp_path):
    """A diameter-12 chain forces >2 lineage truncations (truncate_every=2):
    labels stay correct across the write/re-read roots, and superseded
    scratch generations are deleted (only the newest survives)."""
    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    scratch = str(tmp_path / "scratch")
    out = dedup.duplicate_clusters(pairs, max_iter=20, truncate_every=2,
                                   scratch_dir=scratch).collect()
    assert {r["doc_id"] for r in out} == set(range(13))
    assert all(r["cluster"] == 0 for r in out)
    assert [r["doc_id"] for r in out if r["keep"]] == [0]
    import os
    runs = os.listdir(scratch)            # one uuid dir per call
    assert len(runs) == 1
    gens = [d for d in os.listdir(os.path.join(scratch, runs[0]))
            if d.startswith("gen_")]
    assert len(gens) == 1  # older generations deleted, recompute root kept
    dedup.unpersist_all()


def test_unpersist_all_is_thread_scoped(spark, seeded):
    """Concurrent dedup driver threads own separate registries: one
    thread's unpersist_all() must not release the other's intermediates."""
    import threading
    results = {}

    def worker():
        dedup.jaccard_pairs(seeded, threshold=0.6).count()
        results["worker_released"] = dedup.unpersist_all()

    dedup.jaccard_pairs(seeded, threshold=0.9).count()  # main-thread persist
    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert results["worker_released"] >= 1
    assert dedup.unpersist_all() >= 1          # main thread's still live
    assert dedup.unpersist_all(all_threads=True) == 0


def test_duplicate_clusters_nonconvergence_raises(spark):
    """Silent non-convergence would leave multiple keepers per component —
    the operator refuses instead."""
    chain = [(i, i + 1) for i in range(30)]  # diameter 30 > max_iter
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iter=3).collect()
    dedup.unpersist_all()


def test_dedup_token_spans_keep_first(spark):
    """Later occurrences of a duplicated k-token span are cut in full;
    the first (ordered by doc_id, start) keeps every token. Docs shorter
    than k are never touched."""
    span = list(range(100, 108))                      # 8 tokens, dup span
    rows = [
        ("a", [1, 2] + span + [3, 4]),                # first occurrence
        ("b", [5] + span + [6, 7, 8]),                # later -> span cut
        ("c", span[:3]),                              # shorter than k
        ("d", [9, 10, 11, 12]),                       # no dup windows
    ]
    df = spark.createDataFrame(
        [(i, t, len(t), "s") for i, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = {r["doc_id"]: r for r in
           dedup.dedup_token_spans(df, k=4, hash_fn="exact").collect()}
    assert out["a"]["tokens"] == [1, 2] + span + [3, 4]
    assert out["a"]["n_removed_tokens"] == 0
    assert out["b"]["tokens"] == [5, 6, 7, 8]         # whole span removed
    assert out["b"]["n_removed_tokens"] == 8
    assert out["b"]["n_tok"] == 4                     # len_col updated
    assert out["c"]["tokens"] == span[:3]             # < k: untouched
    assert out["d"]["n_removed_tokens"] == 0


def test_dedup_token_spans_within_doc_and_hash_parity(spark):
    """A repeat WITHIN one document is removed at its later start, and the
    production xxhash64 keys decide identically to exact string keys."""
    rows = [("a", [1, 2, 3, 4, 9, 1, 2, 3, 4]),       # self-repeat at s=6
            ("b", [7, 7, 7, 7])]
    df = spark.createDataFrame(
        [(i, t, len(t), "s") for i, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string")
    exact = {r["doc_id"]: r["tokens"] for r in
             dedup.dedup_token_spans(df, k=4, hash_fn="exact").collect()}
    assert exact["a"] == [1, 2, 3, 4, 9]
    hashed = {r["doc_id"]: r["tokens"] for r in
              dedup.dedup_token_spans(df, k=4).collect()}
    assert hashed == exact
    with pytest.raises(ValueError, match="k must be"):
        dedup.dedup_token_spans(df, k=1)


def test_vocabulary_and_oov_profile(spark):
    """Vocab respects min_count + max_size deterministic tiebreak; OOV
    counts occurrences (multiplicity), empty docs keep null rate."""
    from fhir_data_validation_spark.pipeline import text
    df = spark.createDataFrame(
        [("a", [1, 1, 2, 3]),     # 1 ×2
         ("b", [1, 2, 2, 9]),     # 2 ×3 total, 9 once → OOV
         ("c", [9, 9, 3]),        # 9 ×3 total… see min_count
         ("d", [])],
        "doc_id string, tokens array<int>")
    vocab = text.vocabulary(df, min_count=2)
    counts = {r["token"]: r["count"] for r in vocab.collect()}
    assert counts == {1: 3, 2: 3, 3: 2, 9: 3}
    top = text.vocabulary(df, min_count=2, max_size=2)
    # count desc, token asc: 1(3), 2(3) beat 9(3)? no — tie on 3 keeps
    # token asc order: 1, 2 (9 drops), 3(2) drops
    assert sorted(r["token"] for r in top.collect()) == [1, 2]
    # round-5 batch 12: the profile now keeps the CALLER's id column name
    prof = {r["doc_id"]: r for r in
            text.oov_profile(df, top, broadcast_vocab=True).collect()}
    assert prof["a"]["n_tok"] == 4 and prof["a"]["n_oov"] == 1  # the 3
    assert prof["b"]["n_oov"] == 1                              # the 9
    assert prof["c"]["n_oov"] == 3                              # 9,9,3
    assert abs(prof["c"]["oov_rate"] - 1.0) < 1e-12
    assert prof["d"]["n_tok"] == 0 and prof["d"]["oov_rate"] is None
    # shuffle-join fallback agrees
    prof2 = {r["doc_id"]: (r["n_tok"], r["n_oov"]) for r in
             text.oov_profile(df, top, broadcast_vocab=False).collect()}
    assert prof2 == {k: (v["n_tok"], v["n_oov"]) for k, v in prof.items()}


def test_tfidf_topk_hand_values(spark):
    import math
    df = spark.createDataFrame(
        [("d1", "apple banana apple"), ("d2", "banana cherry"),
         ("d3", "durian"), ("d4", "")],
        "doc_id string, text string")
    out = {(r["doc_id"], r["rank"]): r
           for r in text.tfidf_topk(df, k=2).collect()}
    # N = 3 docs with >= 1 word (d4 excluded); smooth idf = ln((N+1)/(df+1))+1
    ln2 = math.log(2.0)
    assert out[("d1", 1)]["term"] == "apple"
    assert abs(out[("d1", 1)]["score"] - 2 * (ln2 + 1)) < 1e-12
    assert out[("d1", 2)]["term"] == "banana"
    assert abs(out[("d1", 2)]["score"] - (math.log(4 / 3) + 1)) < 1e-12
    assert out[("d1", 1)]["tf"] == 2 and out[("d1", 1)]["df"] == 1
    # d2: banana and cherry tf=1; cherry idf higher (df 1 vs 2)
    assert out[("d2", 1)]["term"] == "cherry"
    assert out[("d2", 2)]["term"] == "banana"
    assert ("d3", 2) not in out            # only one term exists
    assert ("d4", 1) not in out            # empty doc emits nothing
    # shuffle-join fallback identical
    alt = {(r["doc_id"], r["rank"]): r["term"] for r in
           text.tfidf_topk(df, k=2, broadcast_idf=False).collect()}
    assert alt == {k: v["term"] for k, v in out.items()}


def test_tfidf_topk_tie_breaks_by_term(spark):
    df = spark.createDataFrame([("d", "zeta alpha")],
                               "doc_id string, text string")
    rows = sorted(text.tfidf_topk(df, k=5).collect(),
                  key=lambda r: r["rank"])
    assert [r["term"] for r in rows] == ["alpha", "zeta"]  # equal scores
    import pytest as _pt
    with _pt.raises(ValueError):
        text.tfidf_topk(df, k=0)


def test_exact_duplicates_incremental(spark):
    idx0 = spark.createDataFrame(
        [("fp-not-seen", 999)], "fingerprint string, keep long")
    hist = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string")
    # bootstrap an index from the historical corpus (all fingerprints,
    # including singletons, so future collisions resolve to history)
    from fhir_data_validation_spark.pipeline.text import fingerprint as fp
    boot = hist.select(fp(F.col("text")).alias("fingerprint"),
                       F.col("doc_id").alias("keep"))
    index = idx0.unionByName(boot)

    new = spark.createDataFrame(
        [(10, "alpha text"),      # dup of history (keep=1)
         (11, "gamma text"),      # new fp, batch keeper
         (12, "gamma text"),      # dup within batch (keep=11)
         (13, "delta text")],     # new fp, unique
        "doc_id long, text string")
    verdicts, delta = dedup.exact_duplicates_incremental(new, index)
    got = {r["doc_id"]: (r["keep"], r["dup"]) for r in verdicts.collect()}
    assert got == {10: (1, True), 11: (11, False),
                   12: (11, True), 13: (13, False)}
    d = {r["fingerprint"]: r["keep"] for r in delta.collect()}
    assert set(d.values()) == {11, 13}    # only fps new to the index
    assert len(d) == 2
    # appending the delta makes the next batch see batch-11 as history
    next_batch = spark.createDataFrame([(20, "gamma text")],
                                       "doc_id long, text string")
    v2, d2 = dedup.exact_duplicates_incremental(
        next_batch, index.unionByName(delta))
    assert [(r["keep"], r["dup"]) for r in v2.collect()] == [(11, True)]
    assert d2.count() == 0


def test_simhash_incremental(spark):
    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id long, text string")
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    other = ("completely different subject matter about spark query "
             "planning and shuffle exchange reuse semantics")
    hist = mk([(1, base), (2, other)])
    index = dedup.simhash(hist).withColumnRenamed("_id", "doc_id")

    # same word multiset as base (punctuation/whitespace noise) ->
    # identical signature; a one-word swap on a short doc can flip > 3
    # bits, so the wording-variant case is checked by consistency below
    near = base.upper() + "!!"
    new = mk([(10, base),        # exact -> dup of 1, hamming 0
              (11, near),        # same words -> hamming 0 -> dup of 1
              (12, "unrelated short text about gardens and rivers"),
              (13, "unrelated short text about gardens and rivers")])
    verdicts, delta = dedup.simhash_incremental(new, index)
    got = {r["doc_id"]: r for r in verdicts.collect()}
    assert got[10]["dup"] and got[10]["dup_of"] == 1
    assert got[10]["hamming"] == 0
    assert got[11]["dup"] and got[11]["dup_of"] == 1
    # consistency: dup verdicts agree with brute-force signature distance
    sigs = {r["_id"]: r["simhash"]
            for r in dedup.simhash(mk([(1, base), (2, other)])
                                   .unionByName(new)).collect()}
    for d in (10, 11, 12, 13):
        brute = min(bin((sigs[d] ^ sigs[o]) & ((1 << 64) - 1)).count("1")
                    for o in (1, 2, 10, 11, 12, 13) if o < d)
        assert got[d]["dup"] == (brute <= 3)
    assert not got[12]["dup"] and got[12]["dup_of"] is None
    assert got[13]["dup"] and got[13]["dup_of"] == 12   # batch keep-first
    assert {r["doc_id"] for r in delta.collect()} == {12}
    # appended delta makes the survivor visible to the next batch
    v2, d2 = dedup.simhash_incremental(
        mk([(20, "unrelated short text about gardens and rivers")]),
        index.unionByName(delta))
    r20 = v2.collect()[0]
    assert r20["dup"] and r20["dup_of"] == 12 and d2.count() == 0
    import pytest as _pt
    with _pt.raises(ValueError):
        dedup.simhash_incremental(new, index, max_distance=4)


def test_normalize_text_unicode_forms(spark):
    """NFC makes decomposed and precomposed twins identical (so downstream
    fingerprints collide as they should); NFKC additionally folds
    compatibility chars; lowercase applies after normalization; nulls pass
    through; bad form rejected before any job."""
    decomposed = "Cafe\u0301 X"      # e + COMBINING ACUTE
    precomposed = "Caf\u00e9 X"      # precomposed e-acute
    df = spark.createDataFrame(
        [(1, decomposed), (2, precomposed), (3, None), (4, "\ufb01n")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n"]
           for r in df.select("doc_id",
                              text.normalize_text(F.col("text"),
                                                  lowercase=True)
                              .alias("n")).collect()}
    assert out[1] == out[2] == "caf\u00e9 x"
    assert out[3] is None
    assert out[4] == "\ufb01n"       # NFC keeps the fi ligature
    nfkc = df.where(F.col("doc_id") == 4).select(
        text.normalize_text(F.col("text"), form="NFKC").alias("n")
    ).collect()[0]["n"]
    assert nfkc == "fin"             # NFKC folds it
    with pytest.raises(ValueError):
        text.normalize_text(F.col("text"), form="NFX")


def test_char_cross_entropy_flags_gibberish(spark):
    import math
    normal = [(i, "the quick brown fox jumps over the lazy dog again")
              for i in range(20)]
    df = spark.createDataFrame(
        normal + [(100, "zzqqxxjj zzqqxxjj qqzzxxjj"),   # rare chars
                  (101, ""),                              # empty -> null
                  (102, "±±±±±±±±")],                     # unseen chars
        "doc_id long, text string")
    ref = text.char_frequencies(
        spark.createDataFrame(normal, "doc_id long, text string"))
    out = {r["doc_id"]: r for r in
           text.char_cross_entropy(df, ref).collect()}
    base = out[0]["bits_per_char"]
    assert out[100]["bits_per_char"] > base + 0.5  # gibberish scores high
    assert out[102]["bits_per_char"] > out[100]["bits_per_char"]  # unseen worst
    assert out[101]["bits_per_char"] is None and out[101]["n_chars_scored"] == 0
    # hand-check one value: doc 0 under the reference model
    rows = ref.collect()
    total = sum(r["cnt"] for r in rows)
    denom = total + 0.5 * (len(rows) + 1)
    bits = {r["ch"]: -math.log2((r["cnt"] + 0.5) / denom) for r in rows}
    t = "the quick brown fox jumps over the lazy dog again"
    want = sum(bits[c] for c in t) / len(t)
    assert abs(out[0]["bits_per_char"] - round(want, 4)) < 2e-4
    # scoring is shuffle-free: model embedded as a literal map
    plan = (text.char_cross_entropy(df, ref)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


def test_similarity_join_cross_corpus(spark):
    """Cross-corpus MinHash-LSH join: exact/near dups across the two sides
    found with exact Jaccard values, within-side pairs never emitted, id
    collisions between corpora are fine (sides never mix)."""
    from fhir_data_validation_spark.pipeline import dedup
    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different text about spark and iceberg tables"),
         (3, "the quick brown fox jumps over the lazy dog today")],  # dup of 1 WITHIN left
        "doc_id long, text string")
    right = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),  # same id as left 1
         (30, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    out = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in dedup.similarity_join(left, right,
                                          threshold=0.5).collect()}
    dedup.unpersist_all()
    # the within-left (1,3) duplicate pair must NOT appear
    assert set(out) == {(1, 1), (1, 30), (3, 1), (3, 30)}
    assert out[(1, 30)] == 1.0 and out[(3, 30)] == 1.0
    assert 0.5 <= out[(1, 1)] < 1.0


# --------------------------------------------- round-3 review regressions ---

def test_simhash_incremental_replay_idempotent(spark):
    """Re-delivering a batch whose docs already landed in the index must
    not mark the survivors as duplicates of themselves (same guard as
    semantic_dedup_incremental)."""
    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id long, text string")
    batch = mk([(1, "the quick brown fox jumps over the lazy dog today"),
                (2, "spark query planning with shuffle exchange reuse")])
    v1, d1 = dedup.simhash_incremental(batch, mk([]).limit(0).selectExpr(
        "doc_id", "cast(doc_id as long) as simhash").limit(0))
    assert {r["doc_id"] for r in d1.collect()} == {1, 2}
    # replay: both docs are now in the index
    v2, d2 = dedup.simhash_incremental(batch, d1)
    got = {r["doc_id"]: r["dup"] for r in v2.collect()}
    assert got == {1: False, 2: False}
    assert d2.count() == 0        # fingerprints already indexed


def test_simhash_incremental_wordless_doc_gets_verdict(spark):
    """A doc with no extractable words still yields its verdict row
    (dup=false, null simhash) and is never indexed."""
    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id long, text string")
    new = mk([(1, "normal words in a document"), (2, "???!!! ...")])
    empty_index = mk([]).selectExpr(
        "doc_id", "cast(doc_id as long) as simhash").limit(0)
    verdicts, delta = dedup.simhash_incremental(new, empty_index)
    got = {r["doc_id"]: r for r in verdicts.collect()}
    assert set(got) == {1, 2}
    assert not got[2]["dup"] and got[2]["simhash"] is None
    assert {r["doc_id"] for r in delta.collect()} == {1}


def test_minhash_band_split_validation(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma delta")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="must not exceed"):
        dedup.minhash_dedup(df, n_hashes=16, bands=32)
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_dedup(df, n_hashes=64, bands=48)
    with pytest.raises(ValueError, match="must not exceed"):
        dedup.similarity_join(df, df, n_hashes=8, bands=16)


def test_fingerprint_trailing_newline_equal(spark):
    """Docs identical up to trailing/leading whitespace (incl. tabs and
    newlines, which Spark trim does NOT strip) fingerprint equal."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world\n"), (3, "\thello  world "),
         (4, "different")],
        "doc_id long, text string")
    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3] != fps[4]


def test_dedup_lines_keeps_embedded_nul(spark):
    from fhir_data_validation_spark.pipeline.cleaning import dedup_lines
    doc = "abc\x00def is a long enough line\nshort\nshort"
    df = spark.createDataFrame([(doc,)], "text string")
    out = df.select(dedup_lines(F.col("text"), min_len=10)
                    .alias("t")).first()["t"]
    assert "abc\x00def is a long enough line" in out
    assert out.count("short") == 2        # short lines always kept


def test_incremental_exact_dedup_null_text_contract(spark):
    """round-5 review regressions (batch 11): null-text docs must get a
    dup=false verdict row (one row per new doc) and never enter the
    index — NULL fingerprints used to vanish from verdicts and append a
    (NULL, keep) index row every batch."""
    from fhir_data_validation_spark.pipeline import dedup
    idx = spark.createDataFrame([], "fingerprint string, keep string")
    batch = spark.createDataFrame(
        [("d1", "same text"), ("d2", "same text"), ("d3", None)],
        "doc_id string, text string")
    verdicts, delta = dedup.exact_duplicates_incremental(batch, idx)
    v = {r["doc_id"]: r for r in verdicts.collect()}
    assert set(v) == {"d1", "d2", "d3"}
    assert v["d3"]["dup"] is False and v["d3"]["fingerprint"] is None
    assert v["d2"]["dup"] is True
    d = delta.collect()
    assert all(r["fingerprint"] is not None for r in d)
    dedup.unpersist_all()


def test_lsh_candidates_rejects_bands_above_signature_length(spark):
    """round-5 review regressions (batch 11): bands > n_hashes makes
    every band slice empty and silently returns ZERO candidates — the
    public lsh_candidates now applies the same guard minhash_dedup
    does."""
    import pytest

    from fhir_data_validation_spark.pipeline import dedup
    docs = spark.createDataFrame(
        [("d%d" % i, "alpha beta gamma delta epsilon zeta") for i in
         range(4)], "doc_id string, text string")
    sigs = dedup.minhash_signatures(docs, n_hashes=16)
    with pytest.raises(ValueError):
        dedup.lsh_candidates(sigs, bands=64)
    dedup.unpersist_all()


def test_keep_best_clusters_nan_quality_loses(spark):
    """round-5 review regressions (batch 11): a NaN quality score must
    lose to any real score (NaN ranks above everything in Spark max and
    NaN = NaN matches the winner filter — the unmeasured doc used to be
    elected canonical)."""
    from fhir_data_validation_spark.pipeline import dedup
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    quality = spark.createDataFrame(
        [("a", float("nan")), ("b", 0.95)], "doc_id string, q double")
    out = {r["doc_id"]: r["keep"] for r in dedup.duplicate_clusters(
        pairs, quality=quality, quality_col="q").collect()}
    assert out == {"a": False, "b": True}
    dedup.unpersist_all()


def test_pack_sequences_ignores_stale_n_tok(spark):
    """round-5 review regressions (batch 11): the cut arithmetic derives
    from size(tokens), so a stale n_tok can neither drop tail tokens
    nor shift later sequences."""
    from fhir_data_validation_spark.pipeline.packing import pack_sequences
    df = spark.createDataFrame(
        [("d1", list(range(10)), 4, "w")],   # stale n_tok=4, really 10
        "doc_id string, tokens array<int>, n_tok int, source string")
    pieces = pack_sequences(df, seq_len=6).collect()
    toks = [t for r in sorted(pieces, key=lambda r: r["seq"])
            for t in r["piece"]]
    assert toks == list(range(10))


def test_whitespace_token_and_line_edges(spark):
    """round-5 review regressions (batch 12): newline-terminated, blank-
    but-newline and CRLF docs must not inflate token counts (Spark trim
    strips only SPACES), the BPE punct class excludes carriage returns,
    and repetition's line split is CRLF-tolerant with empties excluded."""
    from fhir_data_validation_spark.pipeline import text
    df = spark.createDataFrame(
        [("d1", "a b\n"),        # trailing newline: 2 tokens, not 3
         ("d2", "\n"),           # blank-but-newline: 0, not 2
         ("d3", "a\r\nb"),       # CRLF: 2 clean tokens, no \r token
         ("d4", ""), ("d5", None),
         ("d6", "x\ny\n\nx\n")],  # lines: x,y,x — no empty-line dups
        "doc_id string, text string")
    got = {r["doc_id"]: (r["ws"], r["bpe"]) for r in df.select(
        "doc_id",
        text.token_count_ws(F.col("text")).alias("ws"),
        text.token_count_bpe(F.col("text")).alias("bpe")).collect()}
    assert got["d1"] == (2, 2)
    assert got["d2"] == (0, 0)
    assert got["d3"] == (2, 2)       # \r is whitespace, not a BPE token
    assert got["d4"] == (0, 0)
    assert got["d5"][0] is None
    rep = {r["doc_id"]: r["dup_line_frac"] for r in
           text.repetition_profile(df.where("text IS NOT NULL"))
               .collect()}
    assert abs(rep["d6"] - (1.0 / 3.0)) < 1e-4    # x,y,x → 1 dup of 3
    assert rep["d2"] == 0.0                        # no non-empty lines

