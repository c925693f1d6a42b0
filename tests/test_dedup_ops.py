"""Operator-level dedup tests with synthetic duplicates (the sf tables have
no exact dups, so these fixtures create them — mirrors the reference's
dedup test suite, scraper_app/tests/test_dedup_util.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.operators import dedup
from data_etl_pipeline_spark.plans.planassert import executed_plan, formatted_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_first(spark):
    df = _docs(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")],
    )
    out = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 3, 3: 1}


def test_identical_docs_have_identical_minhash(spark):
    text = " ".join(f"w{i}" for i in range(30))
    df = _docs(spark, [(1, text), (2, text), (3, "totally different words " * 8)])
    sigs = {r["doc_id"]: tuple(r["signature"]) for r in dedup.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_lsh_finds_near_duplicates(spark):
    base = [f"w{i}" for i in range(60)]
    near = list(base)
    near[5] = "CHANGED"
    df = _docs(
        spark,
        [(1, " ".join(base)), (2, " ".join(near)), (3, " ".join(f"z{i}" for i in range(60)))],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["est_similarity"] for r in dedup.lsh_candidate_pairs(df, min_est=0.3).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_lsh_pair_colliding_in_every_band_emits_one_row(spark):
    """Identical docs share all 4 band keys, so the candidate explode
    produces the pair once per band; the narrow (doc_a, doc_b) aggregate
    that replaced the signature-carrying dropDuplicates must still emit
    exactly ONE row, with the per-pair-constant estimate (1.0 here)."""
    text = " ".join(f"w{i}" for i in range(30))
    df = _docs(spark, [(1, text), (2, text)])
    rows = dedup.lsh_candidate_pairs(df, min_est=0.3).collect()
    assert len(rows) == 1
    assert (rows[0]["doc_a"], rows[0]["doc_b"]) == (1, 2)
    assert rows[0]["est_similarity"] == 1.0


def test_min_label_clusters_empty_edge_list_all_singletons(spark):
    """With the iteration restricted to edge endpoints, an empty edge
    list means an empty label loop — every node must still come back
    self-labeled through the final singleton re-attach."""
    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([], "src long, dst long")
    got = {r["doc_id"]: r["cluster"] for r in dedup.min_label_clusters(nodes, edges).collect()}
    assert got == {i: i for i in range(5)}


def test_jaccard_pairs_exact_value(spark):
    # doc1: shingles of 5 words -> 3 shingles; doc2 shares exactly 2 of them
    df = _docs(spark, [(1, "a b c d e"), (2, "b c d e f")])
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    # doc1: {abc,bcd,cde}, doc2: {bcd,cde,def} -> common 2, union 4
    assert r["n_common"] == 2
    assert r["jaccard"] == 0.5


def test_simhash_close_for_similar_docs(spark):
    base = [f"w{i}" for i in range(40)]
    near = list(base)
    near[0] = "CHANGED"
    df = _docs(spark, [(1, " ".join(base)), (2, " ".join(near))])
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    hamming = bin(out[1] ^ out[2]).count("1")
    assert hamming <= 10  # near-identical word sets -> close simhash


def test_simhash_of_null_text_is_zero_as_in_the_oracle(spark):
    """NULL text has no words, so no bit's vote is positive: its simhash
    is 0, as the doc_simhash oracle SQL computes, and such documents stay
    in simhash_pairs instead of silently leaving it."""
    import duckdb

    from data_etl_pipeline_spark.plans.registry import all_oracle_sql

    rows = [(1, None), (2, None), (3, "alpha beta gamma"), (4, "")]
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_docs(spark, rows)).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(con.execute(all_oracle_sql()["doc_simhash"]).fetchall())
    assert got[1] == got[2] == 0
    assert got == want
    pairs = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in dedup.simhash_pairs(_docs(spark, rows)).collect()}
    assert (1, 2, 0) in pairs


# NULL, empty and short text; a double space; exact duplicates (which
# collide in every band and share every shingle); near duplicates of
# them; 14 docs sharing three shingles, more than the cap of 12.
_WORDS = " ".join(f"w{i}" for i in range(20))
_PAIR_EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "a b"),
    (4, "one  two three four five"),
    (5, "one  two three four five"),
    (6, _WORDS),
    (7, _WORDS),
    (8, _WORDS.replace("w19", "other")),
] + [(9 + i, f"shared boiler plate text here x{i}") for i in range(14)]


def _pairs_and_oracle(spark, name, pairs):
    """Rows of ``pairs`` over _PAIR_EDGE_ROWS and of the registered
    oracle SQL ``name`` over the same documents in DuckDB, each sorted."""
    import duckdb

    from data_etl_pipeline_spark.oracle import _canon
    from data_etl_pipeline_spark.plans.registry import all_oracle_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _PAIR_EDGE_ROWS)
    rel = con.sql(all_oracle_sql()[name])
    cols = [c.lower() for c in rel.columns]
    want = _canon(rel.fetchall(), cols)
    got = pairs(_docs(spark, _PAIR_EDGE_ROWS)).select(*cols).collect()
    return _canon([tuple(r) for r in got], cols), want


@pytest.mark.parametrize(
    "name, pairs",
    [
        ("doc_ngram_jaccard_pairs", lambda df: dedup.ngram_jaccard_pairs(df, threshold=0.8)),
        (
            "doc_ngram_jaccard_capped",
            lambda df: dedup.ngram_jaccard_pairs(df, threshold=0.6, max_postings=12),
        ),
        ("doc_minhash_lsh_pairs", lambda df: dedup.lsh_candidate_pairs(df, bands=4, min_est=0.5)),
        ("doc_simhash_pairs", lambda df: dedup.simhash_pairs(df, bands=4, max_hamming=3)),
    ],
)
def test_pair_miners_match_their_oracle_on_edge_rows(spark, name, pairs):
    """Every pair once, as the oracle SQL's self-join gives it: no pair
    from a NULL-shingle posting of a NULL, empty or short text, no
    duplicate of a pair that shares several shingles or bands, and no
    pair through a shingle over the posting cap."""
    got, want = _pairs_and_oracle(spark, name, pairs)
    assert got and len(got) == len(set(got))
    assert got == want


def test_simhash_band_postings_stay_in_codegen(spark, sf_dir):
    # the band postings are one literal array of structs: no lambda keeps
    # their Generate out of whole-stage codegen
    from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    df = QUERIES["doc_simhash_pairs"].fn(spark, sf_dir)
    df.collect()
    final = executed_plan(df).split("+- == Initial Plan ==")[0]
    generates = [ln for ln in final.splitlines() if "Generate " in ln]
    assert generates
    assert all(ln.lstrip(" :+-").startswith("*(") for ln in generates), generates


def test_posting_cap_drops_the_shared_shingles(spark):
    # uncapped at 0.6, the 14 boilerplate docs pair up through their three
    # shared shingles; under the cap of 12 those shingles carry no pair
    def ids(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    docs = _docs(spark, _PAIR_EDGE_ROWS)
    boiler = {(a, b) for a in range(9, 23) for b in range(a + 1, 23)}
    assert boiler <= ids(dedup.ngram_jaccard_pairs(docs, threshold=0.6))
    assert not boiler & ids(dedup.ngram_jaccard_pairs(docs, threshold=0.6, max_postings=12))


class TestDedupClusters:
    def test_known_graph_components(self, spark):
        from data_etl_pipeline_spark.operators import dedup

        # near-identical trio (0,1,2), identical pair (10,11), singleton 20
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [
                (0, base),
                (1, base + " extra"),
                (2, base + " other"),
                (10, "one two three four five six seven eight nine ten"),
                (11, "one two three four five six seven eight nine ten"),
                (20, "totally different words nothing shared here at all okay then"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["cluster"] for r in dedup.dedup_clusters(docs).collect()}
        assert out[10] == out[11] == 10
        assert out[20] == 20
        assert out[0] == 0 and out[1] == out[2] == 0  # trio collapses to min id

    def test_chain_converges_to_single_component(self, spark):
        from data_etl_pipeline_spark.operators import dedup
        from pyspark.sql import functions as F

        # chain 1-2, 2-3, 3-4: forces multiple propagation iterations
        pairs = spark.createDataFrame(
            [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)], "doc_a long, doc_b long, est_similarity double"
        )
        docs = spark.createDataFrame([(i, f"t{i}") for i in range(1, 5)], "doc_id long, text string")
        # drive the propagation loop directly over injected edges
        edges = (
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        )
        labels = docs.select(F.col("doc_id"), F.col("doc_id").alias("cluster")).localCheckpoint()
        for _ in range(10):
            nbr = (edges.join(labels, edges.dst == labels.doc_id)
                   .groupBy("src").agg(F.min("cluster").alias("nc")))
            labels = (labels.join(nbr, labels.doc_id == nbr.src, "left")
                      .select("doc_id", F.least(F.col("cluster"), F.coalesce("nc", F.col("cluster"))).alias("cluster"))
                      .localCheckpoint())
        out = {r["doc_id"]: r["cluster"] for r in labels.collect()}
        assert set(out.values()) == {1}

    def test_deep_chain_converges_within_log_rounds(self, spark):
        """A 300-node chain has diameter >> the 20-round cap: plain
        one-hop propagation would silently return split components (the
        failure the cap used to hide); the pointer-jumping rounds must
        converge in O(log diameter) and label the whole chain 0."""
        from pyspark.sql import functions as F

        from data_etl_pipeline_spark.operators import dedup

        n = 300
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        chain = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        out = dedup.min_label_clusters(nodes, chain, max_iterations=20)
        assert {r["cluster"] for r in out.collect()} == {0}

    def test_nonconvergence_raises_instead_of_splitting(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from data_etl_pipeline_spark.operators import dedup

        n = 64
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        chain = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.min_label_clusters(nodes, chain, max_iterations=2)

    def test_pointer_jump_matches_union_find_on_random_graph(self, spark):
        """Property pin vs a pure-Python union-find on a seeded random
        graph (mixed component shapes: chains, stars, cliques emerge)."""
        import random

        from pyspark.sql import functions as F

        from data_etl_pipeline_spark.operators import dedup

        rng = random.Random(13)
        n = 120
        edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(90)})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in range(n)}
        # union-find roots are component minima because unions keep the min
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {r["doc_id"]: r["cluster"] for r in dedup.min_label_clusters(nodes, e).collect()}
        assert got == want


class TestSimhashPairs:
    def test_identical_docs_pair_at_zero(self, spark):
        text = " ".join(f"w{i}" for i in range(40))
        df = _docs(spark, [(1, text), (2, text), (3, "entirely other tokens " * 10)])
        collected = dedup.simhash_pairs(df).collect()
        # identical docs collide in all 4 bands; the hamming-first dedup
        # must still emit exactly one row per pair
        assert len(collected) == len({(r["doc_a"], r["doc_b"]) for r in collected})
        rows = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in collected}
        assert rows[(1, 2)] == 0
        assert (1, 3) not in rows and (2, 3) not in rows

    def test_banding_is_lossless_at_max_hamming_3(self, spark):
        # brute-force hamming over all pairs == banded output at the bound
        base = [f"tok{i}" for i in range(50)]
        docs = []
        for i in range(8):
            words = list(base)
            words[i] = f"alt{i}"   # small perturbations -> small hamming
            docs.append((i, " ".join(words)))
        df = _docs(spark, docs)
        sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
        want = {
            (a, b)
            for a in sig
            for b in sig
            if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
        }
        got = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(df).collect()}
        assert got == want


class TestBenchmarkContamination:
    def test_counts_shared_distinct_ngrams(self, spark):
        ev = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
        corpus = _docs(
            spark,
            [
                (1, "xx the quick brown fox yy zz aa"),      # 1 shared 4-gram
                (2, "totally disjoint words here padded out"),
                (3, "the quick brown fox jumps over aa bb"), # 3 shared 4-grams
            ],
        )
        out = {r["doc_id"]: r for r in dedup.benchmark_contamination(corpus, ev, n=4).collect()}
        assert out[1]["n_contaminated"] == 1 and out[1]["contaminated"]
        assert out[2]["n_contaminated"] == 0 and not out[2]["contaminated"]
        assert out[3]["n_contaminated"] == 3 and out[3]["contaminated"]


def test_incremental_dedup_index_grows_across_batches(spark, tmp_path):
    """A doc kept from batch 1 must block its near-dup in batch 2 (the
    index delta was merged), an indexed near-dup drops on arrival, and a
    novel doc passes; intra-batch first-wins keeps the smaller id."""
    from data_etl_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
    )
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = "spark filter group join window sort hash scan stream batch " * 6
    novel1 = "entirely different words about gardens rivers mountains clouds " * 6
    novel2 = "yet another unrelated text regarding music painting sculpture dance " * 6
    corpus = spark.createDataFrame([(0, base)], "doc_id long, text string")
    t = VersionedTable(spark, str(tmp_path / "band-index"))
    t.write(minhash_band_index(corpus))

    b1 = spark.createDataFrame(
        [(10, base + "extra tail"), (11, novel1), (12, novel1 + " slight tail")],
        "doc_id long, text string",
    )
    s1, d1 = incremental_minhash_dedup(t.read(), b1)
    got1 = {r["doc_id"]: r["status"] for r in s1.collect()}
    assert got1[10] == "dup_of_index"      # near-dup of the indexed doc
    assert got1[11] == "kept"              # novel, first of its pair
    assert got1[12] == "dup_in_batch"      # near-dup of smaller-id 11
    t.merge(d1, keys=["doc_id", "band"])
    assert {r["doc_id"] for r in d1.select("doc_id").distinct().collect()} == {11}

    # batch 2: a near-dup of batch 1's KEPT doc must now drop via the index
    b2 = spark.createDataFrame(
        [(20, novel1 + " other tail"), (21, novel2)], "doc_id long, text string"
    )
    s2, d2 = incremental_minhash_dedup(t.read(), b2)
    got2 = {r["doc_id"]: r["status"] for r in s2.collect()}
    assert got2[20] == "dup_of_index"
    assert got2[21] == "kept"


def test_simhash_uses_all_60_bits_and_bands_stay_discriminative(spark, sf_dir):
    """Regression: word hashes reduced mod 2^31-1 zeroed bits 31-59, which
    made the upper simhash_pairs bands CONSTANT keys — every document in
    one bucket, i.e. a hidden corpus self-join."""
    from data_etl_pipeline_spark.operators.dedup import simhash
    from data_etl_pipeline_spark.tables import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    sig = simhash(docs)
    n_docs = sig.count()
    # some signature must set a bit above 31 (probability ~1 on real data)
    high = sig.where(F.expr("shiftright(simhash, 31) > 0")).count()
    assert high > 0, "bits 31-59 are dead"
    # every 15-bit band must have many distinct keys (no constant band)
    for b in range(4):
        distinct = sig.select(
            F.expr(f"shiftright(simhash, {b * 15}) & 32767").alias("k")
        ).distinct().count()
        assert distinct > n_docs // 10, (b, distinct, n_docs)


class TestBoilerplateRemoval:
    def test_spans_cut_and_unioned(self, spark):
        from data_etl_pipeline_spark.operators.dedup import remove_boilerplate_spans

        bp = "terms of service apply here"  # 5 words, in 3 docs
        docs = spark.createDataFrame(
            [
                (0, f"alpha {bp} beta"),
                (1, f"{bp} gamma delta epsilon"),
                # overlapping occurrences: bp twice, spans overlap at 'zeta'? no —
                # back-to-back occurrences, both cut
                (2, f"{bp} {bp}"),
                (3, "totally unrelated words right here now"),
                (4, "tiny doc"),  # < g words, untouched
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_spans(docs, g=5, min_docs=3).collect()
        }
        assert out[0]["cleaned_text"] == "alpha beta"
        assert out[0]["n_removed"] == 5 and out[0]["n_words"] == 7
        assert out[1]["cleaned_text"] == "gamma delta epsilon"
        # doc 2 is ALL boilerplate -> empty survivor, still present
        assert out[2]["cleaned_text"] == "" and out[2]["n_removed"] == 10
        assert out[3]["cleaned_text"] == "totally unrelated words right here now"
        assert out[3]["n_removed"] == 0
        assert out[4]["cleaned_text"] == "tiny doc" and out[4]["n_removed"] == 0

    def test_overlapping_hot_grams_union_positions(self, spark):
        from data_etl_pipeline_spark.operators.dedup import remove_boilerplate_spans

        # 'a b c d e f' contains two hot 5-grams sharing 4 positions; the
        # covered set is their UNION (6 positions), not double-counted
        rep = "a b c d e f"
        docs = spark.createDataFrame(
            [(i, f"{rep} unique{i}") for i in range(3)],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_spans(docs, g=5, min_docs=3).collect()
        }
        for i in range(3):
            assert out[i]["cleaned_text"] == f"unique{i}"
            assert out[i]["n_removed"] == 6

    def test_no_udf_in_plan(self, spark):
        from data_etl_pipeline_spark.operators.dedup import remove_boilerplate_spans

        docs = spark.createDataFrame([(0, "a b c d e f g")], "doc_id long, text string")
        df = remove_boilerplate_spans(docs)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shingles_survive_sub_n_word_documents(spark):
    """Round-7 regression: InferFiltersFromGenerate + subexpression
    elimination evaluate the shingle transform EAGERLY for every row, so
    the expression must be total — an unguarded sequence(0, negative)
    descended into slice(w, 0, n) and threw on any corpus containing a
    document shorter than n words."""
    from data_etl_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(0, "two words"), (1, ""), (2, "one two three four"), (3, "solo")],
        "doc_id long, text string",
    )
    got = dedup.shingles(docs).collect()
    assert {r["doc_id"] for r in got} == {2}
    assert {r["shingle"] for r in got} == {"one two three", "two three four"}
    # the pair miner and clustering paths ride the same expression
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect() == []
    clusters = {r["doc_id"]: r["cluster"] for r in dedup.dedup_clusters(docs).collect()}
    assert clusters == {0: 0, 1: 1, 2: 2, 3: 3}
