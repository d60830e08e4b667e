"""Near-dup detectors: exact groups, MinHash/LSH, SimHash, n-gram Jaccard."""

from pyspark.sql import functions as F

from kafka_connect_plugins_spark.operators.neardup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
NEAR = BASE.replace("warm mat", "cold mat")  # one-token edit: near-duplicate
FAR = "completely different subject matter about distributed query engines and shuffle strategies"


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE, "s0"), (1, NEAR, "s0"), (2, FAR, "s0"), (3, BASE, "s1")],
        "doc_id long, text string, source string",
    )


def test_exact_dedup_groups(spark):
    groups = exact_dedup_groups(_docs(spark), "doc_id", "text").collect()
    by_keeper = {r["keeper"]: r["group_size"] for r in groups}
    assert by_keeper[0] == 2  # docs 0 and 3 identical
    assert by_keeper[1] == 1 and by_keeper[2] == 1
    # token-set fingerprint: permuted tokens collapse to one group
    perm = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "gamma alpha beta beta")], "doc_id long, text string"
    )
    g2 = exact_dedup_groups(perm, "doc_id", "text").collect()
    assert len(g2) == 1 and g2[0]["group_size"] == 2


def test_minhash_signature_properties(spark):
    sigs = {r["id"]: r["mh"] for r in minhash_signature(_docs(spark), "doc_id", "text").collect()}
    assert sigs[0] == sigs[3]  # identical text, identical signature
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert agree_near > agree_far  # signature agreement tracks Jaccard
    assert all(v >= 0 for v in sigs[0])  # no sign-wrap from the permutation


def test_minhash_lsh_pairs_finds_neardups_only(spark):
    # loose band geometry (2-row bands) so the one-token-edit pair reliably
    # collides in this 4-doc corpus; defaults are tuned for corpus scale
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", shingle_k=5, rows_per_band=2,
            verify_threshold=0.5,
        ).collect()
    }
    assert pairs[(0, 3)] == 1.0  # exact duplicate
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5  # near duplicate
    assert not any(2 in p for p in pairs)  # FAR never pairs


def test_simhash_distance_tracks_similarity(spark):
    docs = _docs(spark).unionByName(spark.createDataFrame(
        [(4, None, "s0"), (5, "", "s0")], "doc_id long, text string, source string"
    ))
    df = docs.select("doc_id", simhash(F.col("text")).alias("s"))
    s = {r["doc_id"]: r["s"] for r in df.collect()}
    # NULL text gives a NULL signature, empty text the zero signature
    assert s.pop(4) is None and s[5] == 0
    assert s[0] == s[3]
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(s[0], s[1]) < ham(s[0], s[2])
    assert all(v >= 0 for v in s.values())  # 60-bit: never sign-wraps


def test_simhash_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(_docs(spark), "doc_id", "text", max_hamming=10).collect()
    }
    assert pairs[(0, 3)] == 0
    assert (0, 1) in pairs and pairs[(0, 1)] <= 10
    assert not any(2 in p for p in pairs)


def test_ngram_jaccard_pairs_blocking_and_values(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", block_col="source", n=3, threshold=0.1
        ).collect()
    }
    # doc 3 is in block s1 — identical text but never compared (blocking)
    assert not any(3 in p for p in out)
    assert (0, 1) in out and 0.5 < out[(0, 1)] < 1.0
    assert (0, 2) not in out  # below threshold


class TestConnectedComponents:
    def test_chains_singletons_and_keeper(self, spark):
        from kafka_connect_plugins_spark.operators.neardup import connected_components

        # components: {1,2,3,4} (a chain), {10,11}, singletons {20}, {21}
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (11, 10)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21]], "id long")
        out = {r["id"]: r["cluster_id"] for r in connected_components(edges, nodes).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 21}

    def test_star_matches_propagation(self, spark):
        from kafka_connect_plugins_spark.operators.neardup import connected_components

        # deterministic pseudo-random graph: several components of mixed
        # shape (chain, clique-ish clump, star) + isolated nodes
        raw = [(i, (i * 7 + 3) % 40) for i in range(0, 40, 3)] + [
            (50, 51), (51, 52), (52, 53), (53, 54),  # chain
            (60, 61), (60, 62), (60, 63),  # star
        ]
        edges = spark.createDataFrame(
            [(x, y) for x, y in raw if x != y], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame(
            [(i,) for i in list(range(40)) + list(range(50, 55)) + list(range(60, 64)) + [99]],
            "id long",
        )
        prop = {r["id"]: r["cluster_id"]
                for r in connected_components(edges, nodes).collect()}
        star = {r["id"]: r["cluster_id"]
                for r in connected_components(edges, nodes, algorithm="star").collect()}
        assert star == prop
        assert star[99] == 99  # isolated node stays a singleton

    def test_star_converges_past_propagation_diameter_limit(self, spark):
        from kafka_connect_plugins_spark.operators.neardup import connected_components

        # 64-node path: diameter 63. Propagation moves labels ONE hop per
        # round, so an 8-round budget cannot converge; star contraction
        # (O(log^2 n) rounds) finishes well inside it — the adversarial-graph
        # crossover the algorithm exists for.
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(64)], "id long")
        star = {r["id"]: r["cluster_id"]
                for r in connected_components(edges, nodes, max_iterations=8,
                                              algorithm="star").collect()}
        assert star == {i: 0 for i in range(64)}
        prop = {r["id"]: r["cluster_id"]
                for r in connected_components(edges, nodes, max_iterations=8).collect()}
        assert prop != star  # same budget, propagation still mid-flight

    def test_unknown_algorithm_raises(self, spark):
        import pytest

        from kafka_connect_plugins_spark.operators.neardup import connected_components

        edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        nodes = spark.createDataFrame([(1,), (2,)], "id long")
        with pytest.raises(ValueError, match="propagation.*star|star.*propagation"):
            connected_components(edges, nodes, algorithm="labelprop")

    def test_dedup_clusters_transitive(self, spark):
        from kafka_connect_plugins_spark.operators.neardup import dedup_clusters

        # a ~ b and b ~ c but a !~ c: all three must share one cluster
        base = " ".join(f"token{i} word{i} filler{i}" for i in range(30))
        docs = spark.createDataFrame(
            [
                (1, base + " ending-one ending-one ending-one"),
                (2, base + " ending-two ending-two ending-one"),
                (3, base + " ending-two ending-two ending-three"),
                (9, "completely different content with no overlap at all"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
               for r in dedup_clusters(docs, "doc_id", "text", verify_threshold=0.3).collect()}
        assert out[1] == (1, True)
        assert out[2][0] == 1 and not out[2][1]
        assert out[9] == (9, True)
        # b~c transitivity pulls 3 into cluster 1 even if (1,3) never paired
        assert out[3][0] == 1


class TestDropBoilerplateChunks:
    """CCNet-style cross-document chunk scrub (drop_boilerplate_chunks)."""

    def _run(self, spark, docs, **kw):
        from kafka_connect_plugins_spark.operators.neardup import (
            drop_boilerplate_chunks,
        )

        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = drop_boilerplate_chunks(df, "doc_id", "text", **kw)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_shared_chunk_dropped_everywhere_in_order(self, spark):
        # chunk_tokens=4: doc 0 = [boiler][uniq0], doc 1 = [uniq1][boiler],
        # doc 2 all-unique. The boiler chunk appears in 2 distinct docs.
        boiler = "b1 b2 b3 b4"
        by = self._run(
            spark,
            [
                (0, f"{boiler} u01 u02 u03 u04"),
                (1, f"u11 u12 u13 u14 {boiler}"),
                (2, "u21 u22 u23 u24"),
            ],
            chunk_tokens=4,
        )
        assert by[0] == {
            "doc_id": 0, "n_chunks": 2, "n_kept": 1,
            "cleaned_text": "u01 u02 u03 u04",
        }
        assert by[1] == {
            "doc_id": 1, "n_chunks": 2, "n_kept": 1,
            "cleaned_text": "u11 u12 u13 u14",
        }
        assert by[2]["n_kept"] == 1
        assert by[2]["cleaned_text"] == "u21 u22 u23 u24"

    def test_fully_boilerplate_doc_keeps_row_with_empty_text(self, spark):
        boiler = "b1 b2 b3 b4"
        by = self._run(
            spark,
            [(0, boiler), (1, boiler), (2, f"x1 x2 x3 x4 {boiler}")],
            chunk_tokens=4,
        )
        assert by[0] == {
            "doc_id": 0, "n_chunks": 1, "n_kept": 0, "cleaned_text": "",
        }
        assert by[2]["cleaned_text"] == "x1 x2 x3 x4"

    def test_within_doc_repeat_is_not_boilerplate(self, spark):
        # the repeated chunk lives in ONE document only -> kept (the count
        # is over distinct documents)
        rep = "r1 r2 r3 r4"
        by = self._run(
            spark,
            [(0, f"{rep} {rep}"), (1, "y1 y2 y3 y4")],
            chunk_tokens=4,
        )
        assert by[0] == {
            "doc_id": 0, "n_chunks": 2, "n_kept": 2,
            "cleaned_text": f"{rep} {rep}",
        }

    def test_min_docs_threshold(self, spark):
        boiler = "b1 b2 b3 b4"
        docs = [(i, f"{boiler} u{i}a u{i}b u{i}c u{i}d") for i in range(3)]
        by = self._run(spark, docs, chunk_tokens=4, min_docs=4)
        assert all(v["n_kept"] == 2 for v in by.values())
