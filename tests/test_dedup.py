"""Quality guarantees for the approximate dedup/similarity tiers that have
no SQL oracle: recall against the exact ground truth, and sanity of the
SimHash construction."""

from __future__ import annotations

from spark_streaming_spark.operators import dedup as DD
from spark_streaming_spark.operators import similarity as SIM
from spark_streaming_spark.sources.batch import load_table
from tests.conftest import SF_DIR


def test_prefix_filter_is_lossless(spark):
    """ngram_jaccard_pairs (prefix filtering, df-ascending global order)
    must equal the naive all-shingle self-join bit-for-bit — the AllPairs
    prefix theorem made executable. Checked at two thresholds to exercise
    different prefix lengths."""
    docs = load_table(spark, SF_DIR, "documents")
    for t in (0.8, 0.5):
        fast = DD.ngram_jaccard_pairs(docs, threshold=t)
        naive = DD._ngram_jaccard_pairs_naive(docs, threshold=t)
        assert fast.exceptAll(naive).count() == 0
        assert naive.exceptAll(fast).count() == 0
        assert fast.count() > 0  # non-vacuous at the fixture SF


def test_minhash_lsh_recall(spark):
    """Banded MinHash-LSH must recover every exact-Jaccard pair at the
    0.8 threshold (bands tuned for s-curve midpoint ≈ 0.7)."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh <= exact, "LSH must never emit a pair below threshold (exact-verified)"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall:.2f} below 0.9 ({exact - lsh})"


def test_simhash_near_dups_close(spark):
    """Near-dup docs (Jaccard ≥ 0.8) must have small SimHash hamming
    distance; random pairs should not."""
    docs = load_table(spark, SF_DIR, "documents")
    sims = {r.doc_id: r.simhash for r in DD.simhash(docs).collect()}
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    for p in pairs:
        assert hamming(sims[p.doc_a], sims[p.doc_b]) <= 12, (
            f"near-dup pair {p} has distant simhashes"
        )


def test_sign_lsh_pairs_subset_of_bruteforce(spark):
    """Every LSH pair's cosine must be ≥ threshold (exact-verified)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = SIM.similar_pairs_lsh(emb, threshold=0.4).collect()
    assert all(r.cosine >= 0.4 for r in rows)


def test_multitable_lsh_recall_beats_single_table(spark):
    """Round-1 VERDICT #7: K independent hyperplane tables must recall at
    least as many true pairs (brute-force cosine ≥ t) as the old single
    axis-aligned sign table, and strictly dominate its candidate set on
    this fixture."""
    from pyspark.sql import functions as F
    from spark_streaming_spark.functions.vectors import dot_expr, norm2_expr

    t = 0.3  # low enough for a non-trivial true-pair set on random vectors
    emb = load_table(spark, SF_DIR, "embeddings")
    # norms once per VECTOR, dot once per pair (cosine_expr would spend
    # three decimal dots per pair — the docstring's own warning; the
    # value is bitwise identical, each norm is the same per-vector
    # decimal sum either way)
    ea = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("emb_a"),
                    F.sqrt(norm2_expr("embedding")).alias("na"))
    eb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("emb_b"),
                    F.sqrt(norm2_expr("embedding")).alias("nb"))
    truth = {
        (r.vec_a, r.vec_b)
        for r in ea.join(eb, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                (dot_expr("emb_a", "emb_b")
                 / (F.col("na") * F.col("nb"))).alias("c"))
        .filter(F.col("c") >= t).collect()
    }
    assert truth, "fixture must have true pairs at this threshold"
    multi = {(r.vec_a, r.vec_b)
             for r in SIM.similar_pairs_lsh(emb, threshold=t).collect()}

    single_tagged = emb.select(
        "vec_id", SIM.sign_bucket("embedding", 8).alias("bk"))
    a, b = single_tagged.alias("a"), single_tagged.alias("b")
    single_cand = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, (F.col("a.bk") == F.col("b.bk"))
                        & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b")).collect()
    }
    single = single_cand & truth
    assert multi <= truth          # exact verification: no false positives
    assert len(multi) >= len(single)


def test_dedup_exact_deterministic_keeper(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = DD.dedup_exact(docs)
    n_docs = docs.count()
    n_kept = out.count()
    assert n_kept <= n_docs
    # keeper is the min doc_id of its text group
    row = out.orderBy("doc_id").first()
    assert row.n_copies >= 1


def test_embedding_cosine_dedup(spark, duck):
    """5th dedup tier: embedding-cosine near-dup pairs match the DuckDB
    oracle bit-for-bit (bucketed join + decimal-exact cosine), and the
    keeper convention holds (kept_vec < drop_vec, cosine ≥ threshold)."""
    import __spark_entry__ as E
    from tests.conftest import assert_matches_oracle

    emb = load_table(spark, SF_DIR, "embeddings")
    out = DD.dedup_embedding_cosine(emb, threshold=0.35)
    rows = out.collect()
    assert all(r.kept_vec < r.drop_vec and r.cosine >= 0.35 for r in rows)
    assert_matches_oracle(out, duck, E.oracle_sql()["dedup_embedding_cosine"])


def test_dup_components_consistent_with_edges(spark):
    """Connected components: every near-dup pair shares a component, every
    component label is the min doc_id of its members, and labels never
    exceed the member's own id."""
    docs = load_table(spark, SF_DIR, "documents")
    comp = {r.doc_id: r.component for r in DD.dup_components(docs).collect()}
    pairs = DD.ngram_jaccard_pairs(docs).collect()
    assert len(comp) == docs.count()
    assert all(comp[r.doc_a] == comp[r.doc_b] for r in pairs)
    assert all(c <= d for d, c in comp.items())
    # each component's label is one of its members' ids (the minimum)
    members = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    assert all(min(ms) == c for c, ms in members.items())


def test_simhash_banded_lsh_is_lossless(spark):
    """n_bands > max_hamming ⇒ pigeonhole guarantees the banded join
    finds EVERY pair within the Hamming threshold — verify against the
    brute-force all-pairs computation."""
    docs = load_table(spark, SF_DIR, "documents")
    banded = {(r.doc_a, r.doc_b, r.hamming)
              for r in DD.simhash_pairs(docs, max_hamming=3).collect()}
    hashes = {r.doc_id: r.simhash for r in DD.simhash(docs).collect()}
    ids = sorted(hashes)
    brute = {
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    assert banded == brute


def test_minhash_equals_exact_at_driver_sfs(spark):
    """The guarantee behind dedup_minhash_lsh's oracle (which is the
    exact-Jaccard SQL): output ⊆ exact holds by construction
    (candidates are exact-verified); this test pins the other
    inclusion — full recall — on every driver corpus, so LSH == exact
    there, deterministically (xxhash64 is seeded/deterministic)."""
    for sf in ("sf0.001", "sf0.01"):
        docs = load_table(spark, f"/root/testdata/{sf}", "documents")
        exact = {(r.doc_a, r.doc_b) for r in
                 DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
        lsh = {(r.doc_a, r.doc_b) for r in
               DD.minhash_lsh_pairs(docs, threshold=0.8).collect()}
        assert lsh == exact, sf


def test_dedup_keep_best_semantics(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = DD.dedup_keep_best(docs).collect()
    assert out, "fixture corpus must contain near-dup clusters"
    comp = {r.doc_id: r.component
            for r in DD.dup_components(docs).collect()}
    chars = {r.doc_id: r.n_chars for r in
             docs.select("doc_id", "n_chars").collect()}
    by_comp: dict[int, list[int]] = {}
    for d, c in comp.items():
        by_comp.setdefault(c, []).append(d)
    for r in out:
        # kept and dropped really share a near-dup component
        assert comp[r.kept_doc] == comp[r.drop_doc]
        # keeper is the cluster argmax of (n_chars, -doc_id)
        members = by_comp[comp[r.drop_doc]]
        best = max(members, key=lambda d: (chars[d], -d))
        assert r.kept_doc == best
    # a drop_doc never appears as a kept_doc (mapping is one-level)
    kept = {r.kept_doc for r in out}
    dropped = {r.drop_doc for r in out}
    assert not (kept & dropped)
    # every non-singleton cluster contributes exactly size-1 drops
    n_expected = sum(len(m) - 1 for m in by_comp.values() if len(m) > 1)
    assert len(out) == n_expected


def test_incremental_dedup_equals_cross_side_pairs(spark):
    """Batch-vs-corpus dedup finds exactly the cross-side subset of the
    full-corpus exact-jaccard pairs (the new x corpus join loses nothing
    the full pairwise run would find between the two sides) — both when
    the corpus side is derived inline from ``corpus_docs`` and when it
    comes from a prebuilt :func:`build_dedup_index`."""
    from pyspark.sql import functions as F

    from spark_streaming_spark.operators import dedup as DD

    docs = load_table(spark, SF_DIR, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    def rows(df):
        return {(r.new_doc, r.corpus_doc, round(r.jaccard, 9))
                for r in df.collect()}

    inc = rows(DD.incremental_minhash_dedup(new, corpus))
    index = DD.build_dedup_index(corpus)
    assert rows(DD.incremental_minhash_dedup(new, corpus_index=index)) \
        == inc
    full = {
        (a, b, round(j, 9))
        for a, b, j in (
            (r.doc_a, r.doc_b, r.jaccard)
            for r in DD.ngram_jaccard_pairs(docs).collect()
        )
    }
    cross = {
        (a, b, j) if a % 10 == 0 else (b, a, j)
        for a, b, j in full
        if (a % 10 == 0) != (b % 10 == 0)
    }
    assert inc == cross


def test_pairs_artifact_cache_is_transparent(spark):
    """The materialized-pairs artifact (cache_key) must be row-identical
    to the uncached computation, and a second keyed call must return the
    SAME checkpointed plan (build once, serve many)."""
    docs = load_table(spark, SF_DIR, "documents")
    key = f"{SF_DIR}#cache-test"
    uncached = {tuple(r) for r in DD.ngram_jaccard_pairs(docs).collect()}
    first = DD.ngram_jaccard_pairs(docs, cache_key=key)
    assert {tuple(r) for r in first.collect()} == uncached
    second = DD.ngram_jaccard_pairs(docs, cache_key=key)
    assert second is first  # artifact reuse, not a re-derivation
    # downstream consumers read the same artifact
    comps = DD.dup_components(docs, cache_key=key)
    plain = DD.dup_components(docs)
    assert {tuple(r) for r in comps.collect()} == \
           {tuple(r) for r in plain.collect()}


def test_split_leakage_consistent_with_split_and_pairs(spark, duck):
    """Leakage pairs = exactly the simhash pairs whose ends land in
    different splits of train_val_test_split (map-side split_of must
    agree with the assignment table), and the matrix ppm column
    floor-sums to ~1e6. Both entries hash-check against DuckDB."""
    import __spark_entry__ as E
    from spark_streaming_spark.operators.sampling import train_val_test_split
    from tests.conftest import SF_DIR, assert_matches_oracle
    from spark_streaming_spark.sources.batch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    split = {r.doc_id: r.split
             for r in train_val_test_split(docs).collect()}
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in DD.simhash_pairs(docs).collect()}
    expected = {(a, b): (h, split[a], split[b])
                for (a, b), h in pairs.items() if split[a] != split[b]}
    got = {(r.doc_a, r.doc_b): (r.hamming, r.split_a, r.split_b)
           for r in DD.split_leakage_pairs(docs).collect()}
    assert got == expected
    matrix = DD.split_leakage_matrix(docs).collect()
    assert sum(r.n_pairs for r in matrix) == len(pairs)
    assert 1_000_000 - len(matrix) <= sum(r.pair_ppm for r in matrix) \
        <= 1_000_000
    assert_matches_oracle(DD.split_leakage_pairs(docs), duck,
                          E.oracle_sql()["split_leakage_pairs"])
    assert_matches_oracle(DD.split_leakage_matrix(docs), duck,
                          E.oracle_sql()["split_leakage_matrix"])


def test_dup_communities_matches_oracle(spark, duck):
    import __spark_entry__ as E
    from tests.conftest import assert_matches_oracle

    docs = load_table(spark, SF_DIR, "documents")
    assert_matches_oracle(
        DD.dup_communities(docs), duck, E.oracle_sql()["dup_communities"])


def test_dup_communities_isolated_pair_converges(spark):
    """The self-vote contract: an ISOLATED mutual near-dup pair must
    land in ONE community (without self edges, synchronous LPA swaps
    the two labels every round — the bipartite oscillation — and any
    odd round count reports them apart)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (7, "one two three four five six seven"),
        (9, "unrelated totally different words entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["community"]
           for r in DD.dup_communities(docs).collect()}
    assert out[1] == out[2] == 1
    assert out[7] == 7 and out[9] == 9


def test_containment_catches_asymmetric_dup(spark):
    """The operator's reason to exist: a short doc absorbed verbatim
    into a much longer one has LOW Jaccard (long side dominates the
    union) but containment == 1.0 for the short side — exactly the
    quote/boilerplate-absorption shape. Also pins directionality: the
    long side's containment of the short one stays below threshold."""
    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    rows = [(1, short), (2, short + " " + filler),
            (9, "totally unrelated other words entirely here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["src_doc"], r["dst_doc"]): r
           for r in DD.containment_pairs(docs).collect()}
    assert (1, 2) in out
    assert out[(1, 2)]["containment_ppm"] == 1000000
    # the reverse direction (big doc inside small) must NOT appear
    assert (2, 1) not in out
    # Jaccard at the default 0.8 threshold misses this pair entirely
    jac = DD.ngram_jaccard_pairs(docs).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {1, 2} for r in jac)


def test_containment_blocking_respects_max_df(spark):
    """The df-cap candidate rule is part of the cross-engine contract:
    a pair sharing ONLY shingles above max_df proposes no candidate.
    With max_df=0 nothing can ever pair."""
    rows = [(1, "a b c d e"), (2, "a b c d e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert DD.containment_pairs(docs, max_df=0).count() == 0
    assert DD.containment_pairs(docs).count() == 2


def _incremental_split(spark):
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents")
    return (docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text"),
            docs.filter(F.col("doc_id") % 10 != 0))


def test_index_bands_equal_column_spelling(spark):
    """The SQL-text MinHash kernel must produce the index bands
    bit-for-bit as the Column spelling it replaced: per doc, the min
    over its distinct shingles of ``F.xxhash64(sh, F.lit(i))`` for 16
    seeds, then per band ``F.xxhash64`` of that band's 4 signature
    rows, exploded as (doc_id, band, bh)."""
    from pyspark.sql import functions as F

    from spark_streaming_spark.functions.text import shingles

    _new, corpus = _incremental_split(spark)
    bands, _arrs = DD.build_dedup_index(corpus)
    sh = corpus.select(
        "doc_id", F.explode(shingles("text", 3)).alias("sh")).distinct()
    sig = sh.groupBy("doc_id").agg(*[
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
        for i in range(16)
    ]).select("doc_id", F.array(*[f"h{i}" for i in range(16)]).alias("sig"))
    ref = sig.select("doc_id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col("sig").getItem(b * 4 + r)
                              for r in range(4)]).alias("bh"))
        for b in range(4)
    ])).alias("b")).select("doc_id", "b.band", "b.bh")
    assert bands.schema.simpleString() == ref.schema.simpleString()
    got = sorted(tuple(r) for r in bands.collect())
    assert got == sorted(tuple(r) for r in ref.collect())
    assert len(got) == 4 * corpus.count()


def test_incremental_dedup_plan_build_py4j_budget(spark):
    """Building one micro-batch's dedup plan must stay a handful of
    py4j round trips: the kernel, band generator and Jaccard are SQL
    text applied by DataFrame methods, not Column trees rebuilt per
    call (the Column spelling cost ~2,240 round trips per batch)."""
    from py4j.java_gateway import GatewayClient

    new, corpus = _incremental_split(spark)
    index = DD.build_dedup_index(corpus)
    calls = [0]
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counted
    try:
        DD.incremental_minhash_dedup(new, corpus_index=index)
    finally:
        GatewayClient.send_command = send
    assert 0 < calls[0] <= 300, calls[0]


def _ancestors(tree: str, line_no: int) -> list[str]:
    """Node names on the path from ``line_no`` up to the root of a
    physical-plan tree string (children sit one ``+- ``/``:- ``
    marker deeper than their parent)."""
    import re

    def depth(line):
        m = re.search(r"[+:]- ", line)
        return 0 if m is None else m.start() // 3 + 1

    def name(line):
        return re.sub(r"^[\s:+|-]*(\*\(\d+\) )?", "", line).split(" ")[0]

    lines = tree.splitlines()
    out, want = [], depth(lines[line_no]) - 1
    for line in reversed(lines[:line_no]):
        if want >= 0 and depth(line) == want:
            out.append(name(line))
            want -= 1
    return out


def test_incremental_dedup_plan_never_regroups_index_arrays(spark):
    """Per micro-batch the corpus side is only SCANNED: no Exchange and
    no aggregate may sit above the index's shingle-array scan (the
    small colliding-pair side is broadcast into it instead)."""
    new, corpus = _incremental_split(spark)
    index = DD.build_dedup_index(corpus)
    plan = DD.incremental_minhash_dedup(new, corpus_index=index)
    tree = plan._jdf.queryExecution().executedPlan().treeString()
    scans = [i for i, line in enumerate(tree.splitlines())
             if "Scan ExistingRDD" in line and "shs#" in line]
    assert len(scans) == 1, tree
    above = _ancestors(tree, scans[0])
    assert above and above[-1] == "AdaptiveSparkPlan", (above, tree)
    assert not [n for n in above
                if "Exchange" in n or "Aggregate" in n], (above, tree)
    assert any("BroadcastHashJoin" in n for n in above), (above, tree)
