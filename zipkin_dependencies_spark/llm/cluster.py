"""Near-duplicate clustering: connected components over verified near-dup
pairs — the operator that turns pairwise similarity output into the thing a
dedup pipeline actually consumes (one cluster id per document, keep one per
cluster).

Spark has no built-in iterative graph operator; this is the classic
min-label-propagation loop expressed in DataFrame ops:

    labels    ← every node labeled with itself
    repeat:   label(n) ← min(label(n), min over neighbors' labels)
    until     no label changed

Each iteration is one join + one aggregate; the loop converges in
O(graph diameter) iterations, and near-dup clusters are shallow (dup groups
are dense — diameters of 2-4), so 5-10 iterations close real corpora. The
driver only ever sees the one-row convergence count, never the labels.

Scale notes (100 TB):
- ``localCheckpoint`` truncates lineage each iteration — without it the plan
  doubles per round and planning time explodes by iteration ~8;
- the join is label-cardinality (nodes), not corpus-cardinality: only ids in
  at least one candidate pair enter the loop; isolated documents get their
  own id as component by the final coalesce, costing nothing;
- for graphs with continent-sized components (adversarial, not dup-shaped),
  swap in the large-star/small-star variant — same contract, fewer rounds;
  the oracle and tests don't change.

Reference parity note: the reference has no graph operators at all
(SURVEY §2 — zero joins beyond the pushed MySQL one); this is an extension
operator (SURVEY §7 M5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: session-scoped memo for the (id, component) table keyed by an explicit
#: caller-provided corpus key + clustering params. The house
#: multi-consumer-subtree rule: when near_dup_clusters and
#: dedupe_near_keep_best run over the SAME corpus in one session (the
#: bench does exactly this), the LSH → verify → connected-components
#: pipeline — the expensive part of both — should execute once. Opt-in
#: (memo_key=None is off): the cache holds a localCheckpointed
#: label-cardinality frame and is invalidated when the owning
#: SparkSession changes.
from ..memo import register_memo
from ..session import scoped_conf

_COMPONENT_MEMO: dict[tuple, DataFrame] = register_memo({})

#: target rows per partition for the CC loop's data-derived width (16-byte
#: (long, long) edge rows → ~4 MB partitions, the same order as AQE's
#: 64 MB advisory against the loop's much higher per-partition fixed cost)
_CC_ROWS_PER_PARTITION = 250_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Undirected edge list → (id, component), component = min id reachable.

    Deterministic: labels are ids, min is order-free. Raises if the loop
    hasn't converged after ``max_iterations`` (a dup graph needing more is a
    sign the candidate generator is broken, not a reason to loop forever).

    r10 loop shape (guide §2.4): ONE exchange per iteration instead of
    three, and no per-round sorts. The pair pipeline materializes once
    under the session's normal AQE; then, with AQE off for the loop
    (checkpoints under AQE report UnknownPartitioning — the
    AdaptiveSparkPlanExec wrapper hides the final plan's partitioning —
    so the co-partitioning below only composes with AQE disabled, and
    the label/edge tables are node/edge-cardinality with a fixed width,
    leaving AQE nothing to re-plan), edges are hash-partitioned by
    ``dst`` and range-sorted once, labels come out of their distinct
    already hash(id)-partitioned, and every round's two joins are
    co-partitioned zip-merges: eager localCheckpoint preserves both
    outputPartitioning and outputOrdering, the SMJ emits its output
    sorted by the join key, so the only exchange (and only sort) left
    in a round is the neighbor-min aggregate's dst→src re-key — the one
    shuffle an iteration fundamentally needs. Lineage still truncates
    every round (the checkpoint), so planning cost stays flat."""
    spark = pairs.sparkSession
    # ONE evaluation of `pairs` (often an expensive LSH/verify pipeline),
    # under the session's normal AQE, before the loop's AQE flip
    pairs_m = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    # loop width is DATA-DERIVED (guide §2: derive partitioning from
    # input size, not a constant): AQE is off inside the loop, so this
    # does by hand what AQE's byte-sized coalescing would — a fixture
    # graph runs 1-wide (per-task overhead regime), a 100 TB graph runs
    # at the deployment's configured shuffle width (the cap). The width
    # is fixed for the WHOLE loop so every round's joins stay
    # co-partitioned.
    max_w = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_edges = 2 * pairs_m.count()
    n_part = max(2, min(max_w, -(-n_edges // _CC_ROWS_PER_PARTITION)))  # floor 2: a SinglePartition checkpoint defeats co-partition reuse
    # every loop exchange (the labels distinct, the per-round neighbor-min
    # re-key) must come out at the SAME width as the edge table for the
    # co-partitioned joins to hold; scoped_conf restores (or unsets) both
    # keys even on a driver exception mid-loop, and documents the
    # single-threaded-session assumption these flips rely on
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(n_part),
        },
    ):
        edges = (
            pairs_m.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("src"),
                            F.col("src").alias("dst"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .distinct()
            .repartition(n_part, "dst")
            .sortWithinPartitions("dst")
            .localCheckpoint(eager=True)
        )
        # the component alias is added ABOVE the checkpoint: a checkpoint
        # of a frame where component aliases id records its partitioning
        # under `component` (the alias-aware rewrite stores one
        # attribute), and the round joins on `id` would then re-shuffle;
        # the live Project carries both forms
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .repartition(n_part, "id")
            .sortWithinPartitions("id")
            .localCheckpoint(eager=True)
            .withColumn("component", F.col("id"))
        )
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy(edges.src.alias("id"))
                .agg(F.min("component").alias("neighbor_component"))
            )
            updated = (
                labels.join(neighbor_min, "id", "left_outer")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(
                            F.col("neighbor_component"), F.col("component")
                        ),
                    ).alias("component"),
                    (
                        F.col("neighbor_component") < F.col("component")
                    ).alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = updated.filter(F.col("_changed")).limit(1).count()
            labels = updated.drop("_changed")
            if changed == 0:
                return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds —
    the high-diameter escape hatch for min-label propagation (SCALING.md
    cliff: a path-shaped component of length L needs L label rounds but only
    O(log L) star rounds; Kiveris et al., "Connected Components in MapReduce
    and Beyond", SOCC'14 — public algorithm, re-expressed as DataFrame ops).

    large-star(u): every neighbor v > u re-attaches to m(u) = min(Γ(u) ∪ u);
    small-star(u): every neighbor v ≤ u, and u itself, attach to m(u).
    Each round is one groupBy(min) + one join, edge-cardinality; the edge
    set monotonically flattens into stars rooted at component minima.

    Same contract as ``connected_components``: (id, component = min
    reachable id), isolated handling left to the caller's final coalesce."""
    # ONE evaluation of the (possibly expensive) pair source; the node set
    # derives from the materialized symmetric edge list, not a second pass
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                    F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = edges.select(F.col("u").alias("id")).distinct()

    def star(e: DataFrame, large: bool) -> DataFrame:
        adj = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        m = adj.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("mn"), F.col("u")).alias("m")
        )
        j = adj.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).unionByName(m.select(F.col("u"), F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).distinct()

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold, not sum: order-free like sum but can't overflow
            # under ANSI arithmetic
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return row["n"], row["h"]

    prev = fingerprint(edges)
    for _ in range(max_iterations):
        edges = star(star(edges, large=True), large=False).localCheckpoint(eager=True)
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} rounds"
        )
    comp = edges.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), "component"
    )
    return all_nodes.join(comp, "id", "left_outer").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def lsh_verified_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact-Jaccard-verified near-dup pairs, candidate-bounded: MinHash-LSH
    banding proposes candidates, then the exact char-k-gram Jaccard is computed
    ONLY on those pairs via a JVM `array_intersect` on the two shingle sets —
    never the full-corpus shingle self-join.

    Scale (100 TB): the corpus-side cost is two scans (signatures + shingles,
    both shuffle-free narrow maps) plus the LSH bucket join on tiny
    (band, bucket, id) rows; the verify join re-attaches shingle arrays to the
    candidate set only, whose cardinality is O(near-dups), not O(N²). Bucket
    skew is absorbed by AQE; a hot shingle no longer matters at all because
    shingles are never a join key here.

    Verification intersects 32-bit shingle DIGESTS, not shingle strings:
    the digest is the same ``int('0x'+md5(s)[:8])`` value the affine MinHash
    already derives per shingle (so the DuckDB oracle reuses its existing
    CTE), long arrays intersect ~2× faster than string arrays in the JVM,
    and the candidate join ships a quarter of the bytes. A 32-bit collision
    merging two distinct shingles perturbs one intersection count by 1 with
    probability ~n_sh²/2³² per document — orders below the threshold's
    resolution; both engines compute on the identical digests either way.

    Emits the same columns as ``ngram_jaccard_pairs`` so the two are
    drop-in interchangeable as cluster edge sources."""
    from ..scaling import ensure_min_parallelism
    from .dedup import minhash_lsh_candidates

    # AQE sizes post-shuffle partitions by BYTES: the deduped pair list is a
    # few MB of (id, id) longs, which AQE coalesces to ~1 partition — and the
    # verify below is CPU-bound (one array_intersect per pair), so that
    # coalesce serializes it. Round-robin the pairs back to core count first.
    candidates = ensure_min_parallelism(
        minhash_lsh_candidates(
            docs, num_hashes=num_hashes, bands=bands, k=k,
            text_col=text_col, id_col=id_col, hash_fn=hash_fn,
            include_est=False,
        )
    )

    # materialize the digest table ONCE (the classic signature-table step
    # of a dedup pipeline): it feeds both sides of the verify join — the
    # parity-critical digest arithmetic lives in dedup._shingle_digests
    # (shared with dedupe_near_against; one source of truth for the value
    # the DuckDB oracle's CTE reproduces)
    from .dedup import _shingle_digests

    sh = _shingle_digests(docs, k, text_col, id_col)
    verified = (
        candidates
        .join(sh.select(F.col("id").alias("id_a"), F.col("xs").alias("xs_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("xs").alias("xs_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("xs_a", "xs_b")).cast("long").alias("n_inter"),
            F.size("xs_a").alias("n_a"),
            F.size("xs_b").alias("n_b"),
        )
        .withColumn(
            "jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def near_dup_clusters(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    candidates: str = "lsh",
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    memo_key: str | None = None,
) -> DataFrame:
    """Documents → (id, component): Jaccard-verified near-dup pairs,
    clustered. Isolated documents are their own (singleton) component —
    downstream keeps ``min(id) per component`` and drops the rest.

    ``candidates='lsh'`` (default, the 100 TB path) routes through
    MinHash-LSH banding and verifies exact Jaccard only on colliding pairs;
    ``candidates='exact'`` is the all-pairs shingle self-join — the
    small-corpus oracle twin, quadratic by design, for cross-checking LSH
    recall on fixtures.

    ``memo_key``: opt-in same-session reuse — pass a stable corpus key
    (e.g. the table path) and the finished (id, component) table is
    localCheckpointed and returned verbatim to any later caller with the
    same key AND identical clustering params (the multi-consumer-subtree
    rule: dedupe_near_keep_best layers an election on this exact table, so
    benching both must not rebuild the LSH+verify+CC pipeline twice).
    Determinism makes the reuse exact: the pipeline is fold-deterministic,
    so cached vs recomputed are byte-equal."""
    if memo_key is not None:
        key = (memo_key, k, threshold, id_col, candidates,
               num_hashes, bands, hash_fn)
        hit = _COMPONENT_MEMO.get(key)
        if hit is not None and hit.sparkSession is docs.sparkSession:
            return hit
    if candidates == "lsh":
        pairs = lsh_verified_pairs(
            docs, k=k, threshold=threshold, num_hashes=num_hashes,
            bands=bands, id_col=id_col, hash_fn=hash_fn,
        )
    elif candidates == "exact":
        from .dedup import ngram_jaccard_pairs

        pairs = ngram_jaccard_pairs(docs, k=k, threshold=threshold, id_col=id_col)
    else:
        raise ValueError(f"unknown candidates mode {candidates!r}")
    comp = connected_components(pairs)
    out = docs.select(F.col(id_col).alias("id")).join(
        comp, "id", "left_outer"
    ).select("id", F.coalesce("component", "id").alias("component"))
    if memo_key is not None:
        out = out.localCheckpoint(eager=True)
        _COMPONENT_MEMO[key] = out
    return out


def dedupe_near_keep_best(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: str = "lsh",
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    memo_key: str | None = None,
) -> DataFrame:
    """→ (component, keep_id, n_members, quality): the end-to-end near-dedup
    a pipeline actually runs — cluster near-duplicates, keep ONE document
    per cluster, the highest ``quality_score`` (ties → smallest id).
    Singletons keep themselves, so the output is exactly the post-dedup
    corpus keyed by cluster.

    Composition of three operators that each stand alone:
    ``near_dup_clusters`` (LSH candidates → Jaccard verify → connected
    components) → quality scoring (pure Column) → one aggregate per
    component. The election is ``max_by(id, struct(quality, -id))`` — a
    hash aggregate, no window sort, and component cardinality ≤ corpus, so
    the final shuffle is strictly smaller than the clustering's own."""
    from .text import quality_score

    comp = near_dup_clusters(
        docs, k=k, threshold=threshold, id_col=id_col, candidates=candidates,
        num_hashes=num_hashes, bands=bands, hash_fn=hash_fn,
        memo_key=memo_key,
    )
    scored = docs.select(
        F.col(id_col).alias("id"), quality_score(text_col).alias("q")
    )
    return (
        comp.join(scored, "id")
        .groupBy("component")
        .agg(
            F.expr("max_by(id, struct(q, -id))").alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("q").alias("quality"),
        )
    )
