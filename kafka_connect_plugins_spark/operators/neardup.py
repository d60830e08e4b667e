"""Near-duplicate detection for training-data pipelines.

Three detectors over a document table, all expressed as native-Column plans
(no Python in the hot path) so Catalyst fuses each stage into whole-stage
codegen and the only shuffles are the ones the algorithms inherently need:

- **Exact dedup** — content fingerprint + hash groupBy (one shuffle on the
  fingerprint).
- **MinHash + LSH** — shingle → minhash signature (map-only) → band →
  bucket self-join (shuffle on band key; candidate count is output-bounded,
  never all-pairs) → exact-Jaccard verification of candidates only.
- **SimHash** — 60-bit bit-majority signature (map-only); chunk-match
  banding for candidate pairs (pigeonhole: hamming <= #chunks-1 guarantees
  a matching chunk).

Scale notes: the all-pairs Jaccard joins are the quadratic trap at 100 TB —
LSH banding is the scale path (pairs ∝ true-duplicate density), which is why
the banded variants are the primary API and the exact pairwise verify only
ever touches LSH candidates. Hashes derive from sha2 so DuckDB oracles
reproduce them exactly (functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.functions.text import (
    hash_array60,
    ngrams,
    shingles,
    ws_tokens,
)
from kafka_connect_plugins_spark.plans.parallelism import spread

# Default universal-hash permutations (a, b) for minhash: h_i = (a*h + b) % p.
MINHASH_PARAMS = [
    (3, 17), (5, 101), (7, 919), (11, 3271),
    (13, 9511), (17, 27961), (19, 81031), (23, 232861),
]
MERSENNE_31 = 2147483647
SIMHASH_BITS = 60


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: normalized-token-set fingerprint → hash groupBy."""
    fp = F.sha2(
        F.array_join(F.array_sort(F.array_distinct(ws_tokens(F.col(text_col)))), " "), 256
    )
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("group_size"))
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    params: list[tuple[int, int]] = MINHASH_PARAMS,
) -> DataFrame:
    """(id, mh: array<long>) — one minhash per (a, b) permutation.

    Map-only: shingle set and all permutations evaluate in a single projection
    over the scan; nothing shuffles until a downstream consumer groups.
    """
    df = spread(df)
    h = hash_array60(shingles(F.col(text_col), shingle_k))
    # ONE fold over the shingle hashes carrying all permutation minima in an
    # array accumulator. Writing this as len(params) separate
    # array_min(transform(...)) expressions looks equivalent, but Catalyst's
    # projection collapse inlines the (sha256-heavy) shingle hashing into
    # every one of them — measured 8x slower on a 5k-doc corpus. Reducing the
    # 60-bit hash mod p BEFORE multiplying keeps a*(x%p)+b under 2^36, so the
    # permutation never overflows a signed 64-bit long.
    init = F.array(*[F.lit(MERSENNE_31).cast("long") for _ in params])

    def perms(x: F.Column) -> F.Column:
        return F.array(*[(a * (x % MERSENNE_31) + b) % MERSENNE_31 for (a, b) in params])

    sig = F.aggregate(h, init, lambda acc, x: F.zip_with(acc, perms(x), lambda u, v: F.least(u, v)))
    return df.select(F.col(id_col).alias("id"), sig.alias("mh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 7,
    params: list[tuple[int, int]] = MINHASH_PARAMS,
    rows_per_band: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: LSH banding for candidates, exact Jaccard verify.

    Plan shape (the 100 TB path):
      1. signature projection (map-only over the scan)
      2. explode to one row per band; bucket key = sha2 of the band slice
      3. self-equi-join on (band, bucket) — Spark plans a shuffled hash join
         on the key; only colliding docs ever meet, never the full cross
      4. exact Jaccard over the two shingle sets, verified per candidate pair

    Band geometry is the skew lever: short shingles over a small vocabulary
    make random pairs similar, and at (k=5, rows=2) one bucket held 22% of a
    5k-doc corpus (1.5M candidates). The defaults (k=7, rows=4 → collision
    prob = sim^4 per band) keep buckets discriminative; production corpora
    can widen bands again via ``rows_per_band``.

    The hashed distinct shingle set is the single expensive projection
    (sha2 per shingle), so it is computed ONCE behind a hash-repartition on
    id: Catalyst's ReuseExchange dedupes that exchange across all four
    consumers (both band sides, both verify sides), and the verify joins on
    id need no further shuffle of the shingle sets. Jaccard is verified on
    the 60-bit hashed shingles — identical to string-shingle Jaccard up to
    sha2 collisions, at an eighth of the shuffle bytes.
    """
    n_bands = len(params) // rows_per_band
    par = max(int(df.sparkSession.sparkContext.defaultParallelism), 1)
    base = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
        .select(
            "id",
            F.array_distinct(hash_array60(shingles(F.col("__text"), shingle_k))).alias("hs"),
        )
        .repartition(par, F.col("id"))  # ReuseExchange point: hashing runs once
    )
    # Signature from the DISTINCT shingle hashes — min over a set equals min
    # over the multiset, so the geometry is unchanged.
    init = F.array(*[F.lit(MERSENNE_31).cast("long") for _ in params])

    def perms(x: F.Column) -> F.Column:
        return F.array(*[(a * (x % MERSENNE_31) + b) % MERSENNE_31 for (a, b) in params])

    sig = F.aggregate(
        F.col("hs"), init, lambda acc, x: F.zip_with(acc, perms(x), lambda u, v: F.least(u, v))
    )
    bands = base.select("id", sig.alias("mh")).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.sha2(
                            F.array_join(
                                F.transform(
                                    F.slice(F.col("mh"), b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                "_",
                            ),
                            256,
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    verified = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("hs_a", "hs_b"))
            / F.size(F.array_union("hs_a", "hs_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def simhash(text_col: F.Column, bits: int = SIMHASH_BITS) -> F.Column:
    """Bit-majority SimHash over whitespace tokens (Charikar 2002 shape).

    Token hashing stays in the JVM (``sha2``-derived ``stable_hash60`` —
    bit-identical to the DuckDB oracle); the per-bit ±1 majority fold runs
    as an Arrow-batched NumPy kernel. The previous all-Column fold
    (``aggregate`` + 60-wide ``zip_with`` per token) evaluated an
    interpreted lambda per token *per bit* — O(tokens x 60) JVM closure
    calls, ~1.3 s at 10M tokens — where the NumPy kernel is three
    vectorized ops per bit over the flattened hash array (guide §4.2:
    batch native math beats chains of JVM expressions). The majority rule
    is integer-exact either way: bit b is set iff
    2*count(tokens with bit b) > n_tokens, so results are bit-identical.
    """
    import numpy as np
    import pandas as pd

    nbits = int(bits)

    # plain function + explicit pandas_udf call: decorator-style type-hint
    # inference cannot resolve the function-local `pd` alias under
    # `from __future__ import annotations`
    def _fold(harrs):
        n = len(harrs)
        out = np.zeros(n, dtype=np.int64)
        # NULL text hashes to a NULL array and folds to NULL, as the Column
        # fold did; "" hashes to [] and folds to 0
        null = np.fromiter((a is None for a in harrs), dtype=bool, count=n)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in harrs), dtype=np.int64, count=n
        )
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a, k in zip(harrs, lens) if k]
            )
            ends = np.cumsum(lens)
            starts = ends - lens
            for b in range(nbits):
                col = (flat >> np.int64(b)) & np.int64(1)
                csum = np.concatenate(([0], np.cumsum(col)))
                ones = csum[ends] - csum[starts]
                out |= np.where(2 * ones > lens, np.int64(1) << np.int64(b), 0)
        if not null.any():
            return pd.Series(out)
        res = pd.Series(out, dtype="Int64")
        res[null] = pd.NA
        return res

    _fold.__annotations__ = {"harrs": pd.Series, "return": pd.Series}
    fold_udf = F.pandas_udf(_fold, "long")
    return fold_udf(hash_array60(ws_tokens(text_col)))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 10,
    n_chunks: int = 6,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash: chunk-banding candidates, hamming verify.

    Split the signature into ``n_chunks`` chunks; any pair within hamming
    distance < n_chunks must agree on at least one whole chunk (pigeonhole),
    so grouping on (chunk index, chunk value) finds all such pairs without
    an all-pairs comparison. ``popcount(a XOR b)`` verifies — exact integer
    arithmetic, bit-identical to Spark's ``bit_count``.

    Verification is BUCKET-LOCAL (guide §4.2): the r5 chunk self-join
    enumerated every within-bucket ordered pair as a JVM join row —
    Σ C(n_bucket, 2) = 234M rows at sf1.0, with the hottest chunk value
    (7.7k docs, 30M pairs) serialized into ONE task (join-key skew AQE
    cannot split) — measured 28.7 s. Here each (chunk, val) group ships its
    (id, sim) rows — longs, not pairs — to one vectorized XOR+popcount over
    the group's signature vector, emitting only pairs within
    ``max_hamming`` (~4k groups; one narrow shuffle of 300k rows at
    sf1.0). A pair agreeing on several chunks is emitted ONLY by its
    lowest matching chunk — each group can see which chunks of the pair's
    XOR are zero, so the global emit is exactly-once and the r5 plan's
    multi-chunk DISTINCT (a 60M+-row exchange at sf1.0 for this corpus's
    30M dense output) disappears outright (guide §2.4). The signature
    projection also runs ONCE instead of once per join side (round-robin
    ``spread`` is nondeterministic, so the two sides could never share an
    exchange).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    sh = spread(df).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sim")
    )
    chunks = sh.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * chunk_bits)
                        .bitwiseAND(mask)
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sim", "cc.chunk", "cc.val")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("hamming", T.IntegerType()),
        ]
    )
    maxh = int(max_hamming)

    def _popcount64(x: "np.ndarray") -> "np.ndarray":
        # SWAR popcount over uint64 (NumPy < 2.0 has no bitwise_count);
        # wrap-around multiply is the standard horizontal byte sum
        m1 = np.uint64(0x5555555555555555)
        m2 = np.uint64(0x3333333333333333)
        m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
        h01 = np.uint64(0x0101010101010101)
        x = x - ((x >> np.uint64(1)) & m1)
        x = (x & m2) + ((x >> np.uint64(2)) & m2)
        x = (x + (x >> np.uint64(4))) & m4
        return (x * h01) >> np.uint64(56)

    cmask = np.uint64(mask)
    group_span = mask + 1  # val < 2**chunk_bits, so (chunk, val) packs losslessly

    def _emit_group(ids, sims, my_chunk, outs):
        """Vectorized XOR+popcount over ONE (chunk, val) group's rows;
        appends (id_a, id_b, hamming) arrays to ``outs``. ids must be
        ascending."""
        n = len(ids)
        if n < 2:
            return
        row_block = 1024  # bounds the XOR matrix at row_block × n uint64s
        for i0 in range(0, n, row_block):
            x = sims[i0 : i0 + row_block, None] ^ sims[None, :]
            h = _popcount64(x)
            r, c = np.nonzero(h <= maxh)
            gi = r + i0
            keep = c > gi  # ordered pairs only: column id > row id
            if not keep.any():
                continue
            rk, ck, gik = r[keep], c[keep], gi[keep]
            # exactly-once emit: only the LOWEST chunk whose 10-bit block of
            # the pair's XOR is zero owns the pair (this group's own chunk
            # matches by construction, so first_match <= my_chunk always)
            xk = x[rk, ck]
            first = np.full(len(xk), n_chunks, dtype=np.int64)
            for cc in range(my_chunk + 1):
                zero = ((xk >> np.uint64(cc * chunk_bits)) & cmask) == 0
                first = np.where(zero & (first == n_chunks), cc, first)
            mine = first == my_chunk
            if mine.any():
                outs.append(
                    (ids[gik[mine]], ids[ck[mine]], h[rk[mine], ck[mine]].astype(np.int32))
                )

    def emit(batches):
        # One call per PARTITION (mapInPandas), not per group: the r6 profile
        # showed ~6k (chunk, val) groups whose per-group applyInPandas
        # invocations cost ~5 s of pure Python/Arrow call overhead at sf1.0
        # for ~1 s of actual XOR math. Here every group in the partition is
        # processed inside one call; groups are recovered by sorting on the
        # packed (chunk, val) key. Hash partitioning on (chunk, val) keeps
        # group-completeness per partition exactly as groupBy did.
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf) == 0:
            return
        ids = pdf["id"].to_numpy(dtype=np.int64)
        sims = pdf["sim"].to_numpy(dtype=np.int64).astype(np.uint64)
        key = pdf["chunk"].to_numpy(dtype=np.int64) * group_span + pdf[
            "val"
        ].to_numpy(dtype=np.int64)
        order = np.lexsort((ids, key))
        ids, sims, key = ids[order], sims[order], key[order]
        bounds = np.flatnonzero(np.diff(key)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(key)]))
        outs: list = []
        for s, e in zip(starts, ends):
            _emit_group(ids[s:e], sims[s:e], int(key[s] // group_span), outs)
        if outs:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate([o[0] for o in outs]),
                    "id_b": np.concatenate([o[1] for o in outs]),
                    "hamming": np.concatenate([o[2] for o in outs]),
                }
            )

    # no distinct needed: the lowest-matching-chunk rule makes the global
    # emit exactly-once, so the union over groups IS the pair set
    return (
        chunks.repartition("chunk", "val")
        .mapInPandas(emit, out_schema)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact token-n-gram Jaccard over pairs sharing a blocking key.

    The honest quadratic baseline, bounded by blocking (pairs only within
    ``block_col`` groups) — the verifier against which the LSH variants are
    judged. At scale the block key bounds the join fan-out.

    Plan shape: an INVERTED-INDEX intersection count, one subtree, no
    joins. The r5 plan (block self-join on ids, then one
    ``array_intersect`` per candidate pair) paid Σ_blk C(n_blk, 2) array
    intersects — 16.7M pairs × ~50-element arrays at sf1.0, ~900M element
    comparisons for a handful of matches. Instead each document's DISTINCT
    grams explode once, docs sharing a gram meet in a ``collect_list`` per
    ``(blk, gram)`` posting, ordered pairs expand natively from the sorted
    posting, and ``groupBy(pair).count()`` IS ``|A∩B|`` — the expanded row
    count is Σ_gram C(docs(gram), 2) (1.7M at sf1.0: 10x fewer rows, no
    array probes; guide §2.3). Per-doc sizes ride along inside the posting
    structs, so union size (|A∪B| = |A|+|B|−|A∩B|) needs no join back.
    Pairs sharing no gram have Jaccard 0 < threshold, so never
    materializing them is semantics-preserving. A self-JOIN shape here is
    a trap twice over: round-robin ``spread`` is nondeterministic so the
    two sides cannot share one exchange, and InferFiltersFromGenerate
    re-inlines the gram construction into a pushed ``size(g) > 0`` filter
    below the exchange — measured 25 s vs ~1.5 s for this shape
    (``explode_outer`` + post-filter avoids the inferred filter, as in
    :func:`decontaminate_ngrams`).
    """
    toks = ws_tokens(F.col("__text"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    ex = (
        spread(df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"),
                         F.col(text_col).alias("__text")))
        .select("id", "blk", grams.alias("g"))
        .select(
            "id", "blk", F.size("g").alias("n"), F.explode_outer("g").alias("gram")
        )
        .filter(F.col("gram").isNotNull())
    )
    # posting list per (blk, gram), sorted by id (structs sort on the first
    # field), then native ordered-pair expansion: element i pairs with every
    # later element — a.id < b.id by construction
    postings = ex.groupBy("blk", "gram").agg(
        F.sort_array(F.collect_list(F.struct("id", "n"))).alias("ds")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    inter = (
        postings.select(pair.alias("p"))
        .groupBy(
            F.col("p.a.id").alias("id_a"),
            F.col("p.a.n").alias("n_a"),
            F.col("p.b.id").alias("id_b"),
            F.col("p.b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    scored = (
        inter.withColumn(
            "jaccard",
            F.col("n_i") / (F.col("n_a") + F.col("n_b") - F.col("n_i")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return scored


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iterations: int = 50,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    The missing half of every near-dup pipeline: pair detection (LSH) gives
    EDGES, but dedup needs CLUSTERS — transitively closed groups with one
    canonical keeper each. Returns ``(id_col, cluster_id)`` where
    ``cluster_id`` is the minimum member id of the component (so
    ``id == cluster_id`` marks the keeper). Vertices of ``nodes`` with no
    edges come out as singleton clusters of themselves.

    Plan per iteration: one shuffle to route each vertex's current label to
    its neighbours (edge join) and one min-aggregation — the classic
    Pregel-style step, converging in O(component diameter) rounds, which for
    near-dup graphs (dense clumps, tiny diameter) is a handful. The
    symmetrized edge list is cached once (it is re-scanned every round);
    labels are persisted per round and the previous round unpersisted;
    lineage is truncated with ``localCheckpoint`` so long runs cannot
    accumulate an unbounded plan.

    ``algorithm`` picks the round strategy:

    - ``"propagation"`` (default): min-label propagation, O(diameter)
      rounds, each round two NARROW shuffles of (long, long) pairs — the
      cheapest per-round plan, right for near-dup graphs (dense clumps,
      tiny diameter).
    - ``"star"``: alternating large-star / small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14): each round rewires every node toward its neighborhood
      minimum, collapsing components to stars in O(log^2 n) rounds
      REGARDLESS of diameter. Per round it pays more (two groupBy-min +
      two joins + two distincts vs propagation's one join + one min-agg),
      so it wins exactly when the graph is adversarial — long chains /
      high-diameter components, where propagation's round count explodes.
      ``tests/test_neardup.py`` demonstrates the crossover on a path
      graph whose diameter exceeds the star round budget by 8x.

    Convergence is detected for FREE from label monotonicity: a round's new
    label is ``min(old, neighbour labels)``, so the label SUM is strictly
    decreasing until the fixpoint — one tiny aggregation over the (cached)
    new labels per round (which also materializes the cache), no
    changed-rows join. The sum runs in decimal(38,0): 10^9 long ids sum
    past int64.

    Ids must be integral (byte/short/int/long): labels are longs and the
    cluster_id IS the minimum member id. A string/UUID id would cast to
    NULL and silently collapse every such node into one NULL cluster, so
    non-integral id columns raise — map external ids to a dense long
    surrogate (``zipWithUniqueId`` / ``monotonically_increasing_id`` +
    join-back) before clustering, as ``dedup_clusters`` documents.
    """
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for df, col, what in (
        (nodes, id_col, "nodes id"),
        (edges, edge_cols[0], "edge src"),
        (edges, edge_cols[1], "edge dst"),
    ):
        dt = df.schema[col].dataType
        if not isinstance(dt, integral):
            raise TypeError(
                f"connected_components requires integral ids; {what} column "
                f"{col!r} is {dt.simpleString()} — map external ids to a "
                f"long surrogate first (see docstring)"
            )
    a, b = edge_cols
    if algorithm == "star":
        return _cc_star(edges, nodes, id_col, (a, b), max_iterations)
    if algorithm != "propagation":
        raise ValueError(
            f"unknown connected-components algorithm {algorithm!r}; "
            "expected 'propagation' or 'star'"
        )
    sym = edges.select(
        F.col(a).cast("long").alias("src"), F.col(b).cast("long").alias("dst")
    ).unionAll(
        edges.select(F.col(b).cast("long").alias("src"), F.col(a).cast("long").alias("dst"))
    ).persist()
    labels = nodes.select(
        F.col(id_col).cast("long").alias("src"),
        F.col(id_col).cast("long").alias("label"),
    ).persist()
    label_sum = None
    try:
        for _ in range(max_iterations):
            msgs = sym.join(labels, "src").select(
                F.col("dst").alias("src"), F.col("label")
            )
            new_labels = (
                labels.unionAll(msgs)
                .groupBy("src")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=False)
                .persist()
            )
            new_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).first()[0]
            labels.unpersist()
            labels = new_labels
            if new_sum == label_sum:  # fixpoint: min-labels are monotone
                break
            label_sum = new_sum
        return labels.select(F.col("src").alias(id_col), F.col("label").alias("cluster_id"))
    except Exception:
        labels.unpersist()
        raise
    finally:
        sym.unpersist()


def _edge_digest(e: DataFrame) -> tuple:
    """Order-insensitive, collision-resistant fingerprint of an edge SET:
    ``(count, sum(xxhash64(src, dst)))`` with the sum in decimal(38,0) so a
    billion 64-bit terms cannot overflow. Equal digests for two DIFFERENT
    edge sets require a 64-bit multiset-hash collision (~2^-64 per
    comparison) — unlike plain endpoint sums, which collide for e.g.
    ``{(5,1),(4,2)}`` vs ``{(4,1),(5,2)}`` (see ``_cc_star``).
    """
    return tuple(
        e.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
        ).first()
    )


def _cc_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    edge_cols: tuple[str, str],
    max_iterations: int,
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    SoCC'14). See :func:`connected_components` (``algorithm="star"``).

    One round = large-star then small-star over the current edge set:

    - large-star: every node ``u`` rewires its STRICTLY LARGER neighbours
      to ``m = min(N(u) + {u})`` — emit ``(v, m)`` for ``v > u``.
    - small-star: orient edges high->low; every node ``u`` rewires its
      smaller-or-equal neighbours (and itself) to the minimum of that set.

    Both steps preserve connectivity and monotonically shrink a potential
    function, so the edge set converges to disjoint STARS whose centre is
    the component minimum; the final edges ARE the (member, cluster) map.
    Convergence is detected from one tiny per-round aggregation over the
    freshly cached edge set — no edge-diff join. Unlike the propagation
    loop, where per-node monotone min-labels make sum-equality imply a
    fixpoint, star rounds rename and merge edges NON-monotonically, so
    plain endpoint sums are a necessary-but-not-sufficient signal: two
    different consecutive edge sets can collide on (count, sum(src),
    sum(dst)) — e.g. ``{(5,1),(4,2)}`` vs ``{(4,1),(5,2)}`` — and stopping
    there would silently emit under-merged clusters. The aggregation here
    is therefore an order-insensitive, collision-resistant DIGEST of the
    edge SET: count plus ``sum(xxhash64(src, dst))`` in decimal(38,0)
    (sum over a set is permutation-invariant; equal digests for unequal
    sets need a 64-bit multiset-hash collision, ~2^-64 per round). Lineage
    is truncated per round with ``localCheckpoint``; the previous round's
    cache is dropped as soon as the next is materialized.
    """
    a, b = edge_cols
    e = (
        edges.select(
            F.col(a).cast("long").alias("src"), F.col(b).cast("long").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    node_ids = nodes.select(F.col(id_col).cast("long").alias(id_col))
    stats = None
    try:  # on success the FINAL edge cache stays alive: the returned lazy
        # DataFrame reads through its localCheckpoint, exactly like the
        # propagation loop's final label cache.
        for _ in range(max_iterations):
            sym = e.unionAll(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            # large-star: m = min(N(u) + {u}); emit (v, m) for v > u.
            nbr_min = sym.groupBy("src").agg(F.min("dst").alias("nm"))
            ls = (
                sym.join(nbr_min, "src")
                .where(F.col("dst") > F.col("src"))
                .select(
                    F.col("dst").alias("src"),
                    F.least("nm", "src").alias("dst"),
                )
            )
            # no distinct on ls: the small-star orientation below distincts
            # on (hi, lo) anyway — one shuffle per round saved.
            # small-star: orient high->low, rewire the low side (and the
            # high node itself) to the minimum low neighbour.
            e2 = (
                ls.select(
                    F.greatest("src", "dst").alias("hi"),
                    F.least("src", "dst").alias("lo"),
                )
                .where(F.col("hi") != F.col("lo"))
                .distinct()
            )
            lo_min = e2.groupBy("hi").agg(F.min("lo").alias("nm"))
            ss = (
                e2.join(lo_min, "hi")
                .where(F.col("lo") != F.col("nm"))
                .select(F.col("lo").alias("src"), F.col("nm").alias("dst"))
                .unionAll(
                    lo_min.select(
                        F.col("hi").alias("src"), F.col("nm").alias("dst")
                    )
                )
                .distinct()
                .localCheckpoint(eager=False)
                .persist()
            )
            new_stats = _edge_digest(ss)
            e.unpersist()
            e = ss
            if new_stats == stats:  # fixpoint: stars reproduce themselves
                break
            stats = new_stats
        # At the fixpoint every edge is (member, component-min). min() keeps
        # the output well-defined even if max_iterations cut the loop short.
        # member's join key is aliased so the output select is unambiguous
        # even when the caller's id_col is literally "src".
        member = e.groupBy("src").agg(F.min("dst").alias("__cc_label")).select(
            F.col("src").alias("__cc_src"), "__cc_label"
        )
        out = (
            node_ids.join(member, node_ids[id_col] == member["__cc_src"], "left")
            .select(
                node_ids[id_col],
                F.coalesce(F.col("__cc_label"), node_ids[id_col]).alias("cluster_id"),
            )
        )
        return out
    except Exception:
        e.unpersist()
        raise


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    verify_threshold: float = 0.5,
    cc_algorithm: str = "propagation",
    pairs: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup cluster resolution: MinHash-LSH pairs →
    connected components → canonical keeper per cluster.

    Output: ``(id_col, cluster_id, is_keeper)`` for EVERY document —
    the exact shape a corpus-dedup job feeds a filter ("keep rows where
    is_keeper"). cluster_id is the minimum doc id reachable through pairs
    whose verified Jaccard ≥ ``verify_threshold``.

    ``pairs`` short-circuits pair detection with a precomputed
    ``(id_a, id_b)`` edge DataFrame — pair mining is the expensive half
    (shingle hashing + band join + Jaccard verify), and a pipeline that
    resolves clusters under BOTH CC algorithms (or re-resolves after
    tuning ``cc_algorithm``) should mine once and cluster twice.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, verify_threshold=verify_threshold, **lsh_kwargs
        )
    comps = connected_components(
        pairs.select("id_a", "id_b"),
        df.select(id_col),
        id_col=id_col,
        algorithm=cc_algorithm,
    )
    return comps.select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_keeper"),
    )


def drop_boilerplate_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 32,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document boilerplate removal at token-chunk granularity — the
    CCNet / RefinedWeb "shared-paragraph" scrub adapted to documents without
    line structure.

    Each document splits into NON-overlapping ``chunk_tokens``-token windows
    (``functions.text.token_chunks`` with overlap 0, so reassembly is exact);
    a chunk whose sha256-derived 60-bit hash appears in at least ``min_docs``
    DISTINCT documents is boilerplate and is dropped from every document
    that carries it; survivors re-join in order as ``cleaned_text``.

    Output: ``(id_col, n_chunks, n_kept, cleaned_text)`` for EVERY input
    document (a fully-boilerplate document keeps the row with ``n_kept = 0``
    and an empty string).

    Scale shape: one map-only explode, one shuffle on ``chunk_hash`` for the
    distinct-doc count, one shuffle on ``id_col`` for reassembly. The hot
    set is broadcast to the anti-lookup — boilerplate is by construction a
    SMALL set of chunks each appearing in MANY documents, so the broadcast
    stays tiny even when the corpus does not; if an adversarial corpus blows
    it past the broadcast limit, remove the hint and AQE falls back to a
    shuffle join with the same semantics. A chunk repeated WITHIN one
    document only is not boilerplate (the count is over distinct documents),
    matching the cross-document definition.
    """
    from kafka_connect_plugins_spark.functions.text import stable_hash60, token_chunks

    # chunking + per-chunk sha2 is CPU-heavy per scan byte: widen a narrow
    # scan to full parallelism before the map stage (guide §2/§6)
    chunks = spread(df).select(
        F.col(id_col),
        F.explode(
            token_chunks(F.col(text_col), chunk_tokens=chunk_tokens, overlap=0)
        ).alias("c"),
    ).select(
        id_col,
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk").alias("chunk"),
        stable_hash60(F.col("c.chunk")).alias("chunk_hash"),
    )
    hot = (
        chunks.select("chunk_hash", id_col)
        .distinct()
        .groupBy("chunk_hash")
        .agg(F.count("*").alias("__bp_n_docs"))
        .filter(F.col("__bp_n_docs") >= min_docs)
        .select("chunk_hash", F.lit(True).alias("__bp_hot"))
    )
    flagged = chunks.join(F.broadcast(hot), "chunk_hash", "left")
    kept = F.col("__bp_hot").isNull()
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("chunk_id"),
                                F.col("chunk"),
                                kept.alias("kept"),
                            )
                        )
                    ),
                    lambda x: x["kept"],
                ),
                lambda x: x["chunk"],
            ),
        ).alias("cleaned_text"),
    )


def decontaminate_ngrams(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Eval-set n-gram decontamination — the test-set-overlap check a
    training pipeline runs before a corpus touches a model (GPT-3
    appendix-C / PaLM style): flag every training document that shares at
    least one token ``n``-gram with the held-out eval corpus.

    Scale shape: each side hashes its DISTINCT per-document n-grams to 64
    bits map-side (``xxhash64``), so the join moves longs, never gram
    strings. The eval side reduces to one distinct gram-hash set — in a
    real pipeline that is a benchmark suite measured in megabytes against
    a 100 TB corpus, so it broadcasts and the corpus never shuffles; pass
    ``broadcast_eval=False`` when the eval corpus is itself large and a
    shuffled hash join is the right plan.

    Output: ``(id_col, n_grams, n_contaminated, contam_frac)`` for
    contaminated training documents only (clean documents emit no row;
    documents shorter than ``n`` tokens have no n-grams and cannot match).
    """
    if n < 1:
        raise ValueError(f"decontaminate_ngrams: n must be >= 1, got {n}")

    def doc_grams(col: F.Column) -> F.Column:
        return F.array_distinct(ngrams(ws_tokens(col), n))

    # explode_outer + isNotNull, not plain explode: InferFiltersFromGenerate
    # would turn explode into a pushed-down `size(grams) > 0 AND
    # isnotnull(grams)` filter, and CollapseProject inlines the n-level
    # zip_with fold into BOTH conjuncts — a measured 3x re-evaluation of the
    # gram construction per row (the minhash CollapseProject trap, above).
    # The outer generate infers no filter; null grams drop on the cheap
    # post-explode column instead.
    ev = (
        eval_set.select(F.explode_outer(doc_grams(F.col(text_col))).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = (
        spread(train)  # gram construction is the heavy map stage (guide §2)
        .select(F.col(id_col), doc_grams(F.col(text_col)).alias("__grams"))
        .select(
            id_col,
            F.size("__grams").cast("long").alias("n_grams"),
            F.explode_outer("__grams").alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
        .select(id_col, "n_grams", F.xxhash64("gram").alias("gh"))
    )
    hits = tr.join(ev, "gh").groupBy(id_col, "n_grams").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return hits.select(
        id_col,
        "n_grams",
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.round(F.col("n_contaminated") / F.col("n_grams"), 4).alias("contam_frac"),
    )
