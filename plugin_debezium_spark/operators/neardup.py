"""Deduplication suite for training-data pipelines.

Beyond the reference's scope (it's a CDC tool), but first-class here:
a 100 TB ingest lake feeds model training, and dedup is the first
thing run on it. All operators are pure DataFrame plans (JVM-side,
shuffle-conscious); hashes are sha256-derived so results are
reproducible across engines (the DuckDB oracles compute the same
formulas).

Scale notes:
- exact dedup: one hash-groupBy with map-side combine; no skew issue
  (hashes are uniform).
- MinHash/LSH: explode(shingles) is the big intermediate — size it by
  stride-sampling shingles; band-bucket join emits candidate pairs
  only, never the O(n²) cross product.
- SimHash: explode(tokens × bits) then one aggregate; bits are
  independent so the aggregate is fully map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# 2^31 - 1, the classic Mersenne prime for affine minhash perms
_P = 2147483647


def sha_bigint(col):
    """First 15 hex chars of sha256 → non-negative bigint (60 bits).
    Chosen because every engine can reproduce it (vs xxhash64 seeds)."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def word_shingles_expr(text_col: str, n: int = 5) -> str:
    """SQL-text version used by both the Spark plan (F.expr) and the
    docstringed DuckDB twin."""
    w = f"split(trim({text_col}), '\\\\s+')"
    return (
        f"transform(sequence(1, greatest(size({w}) - {n - 1}, 1)), "
        f"i -> array_join(slice({w}, i, {n}), ' '))"
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct content hash, keeping the
    smallest id as representative. One shuffle (hash groupBy)."""
    return (
        df.withColumn("text_sha256", F.sha2(F.col(text_col), 256))
        .groupBy("text_sha256")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """MinHash signature per doc: h = sha_bigint(shingle) mod P, perm_j
    = (a_j*h + b_j) mod P, sig_j = min over shingles.

    Affine perms with fixed constants (deterministic, engine-neutral).
    explode → groupBy(id) with n_perms min() aggregates: map-side
    combine keeps the shuffle at one row per (doc, perm set).
    """
    sh = F.explode(F.expr(word_shingles_expr(text_col, shingle_words))).alias(
        "shingle"
    )
    exploded = df.select(F.col(id_col), sh).withColumn(
        "h", F.pmod(sha_bigint(F.col("shingle")), F.lit(_P))
    )
    aggs = []
    for j in range(n_perms):
        a = 1 + 2 * j  # odd multipliers, coprime-ish with P (P prime)
        b = 12345 + 7 * j
        aggs.append(
            F.min(F.pmod(F.col("h") * a + b, F.lit(_P))).alias(f"mh{j}")
        )
    return exploded.groupBy(id_col).agg(*aggs)


def _band_buckets(
    sigs: DataFrame, id_col: str, n_perms: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows: the signature split into ``bands``
    equal groups, each hashed to one bucket string. Shared by the
    all-pairs candidate join and the incremental index path."""
    if n_perms % bands != 0:
        raise ValueError(
            f"n_perms ({n_perms}) must divide evenly into bands "
            f"({bands}) — trailing permutations would silently change "
            "the LSH sensitivity curve"
        )
    rows_per_band = n_perms // bands
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh{j}").cast("string")
            for j in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.sha2(F.concat_ws(",", *cols), 256).alias("bucket"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """The PERSISTABLE form of MinHash LSH: (id, band, bucket) rows
    for every document. At corpus scale this is the dedup state you
    keep between ingest batches — write it as a parquet/lake table
    partitioned by band (and bucketed on bucket for a co-located
    probe join); its size is bands × n_docs rows of ~70 bytes, i.e.
    ~0.03% of a 100 TB corpus at bands=4.

    The incremental contract (dedup_against_index below): a new batch
    is flagged against THIS index only — never against the whole
    corpus text — so per-batch cost is O(batch + collisions), the
    same discipline as the engine's MOR delta appends
    (streaming/realtime.py)."""
    sigs = minhash_signatures(
        df, text_col, id_col, n_perms=n_perms, shingle_words=shingle_words
    )
    return _band_buckets(sigs, id_col, n_perms, bands)


def dedup_against_index(
    index: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    max_bucket_size: int | None = None,
    new_sigs: DataFrame | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """DIRECTIONAL near-dup: flag each NEW doc that LSH-collides with
    the existing corpus index (first-occurrence-wins dedup, the greedy
    semantics a streaming curation pipeline needs — the batch analogue
    of streaming/stateful.py's first-occurrence operator, with
    near-dup instead of exact-key identity).

    ``exclude_self=True`` ignores collisions where the index id equals
    the probing doc's own id: a CDC pipeline whose doc identities are
    stable (curate_incremental) re-presents a doc on every source
    UPDATE, and its own index rows must not flag its near-identical
    new version as a duplicate of itself (it is a survivor/no-op).
    Default False — batch pipelines with disjoint index/batch id sets
    are unaffected.

    Returns (id, first_match, n_bands_hit): the smallest colliding
    index id (deterministic representative) and how many of the new
    doc's bands hit the index (collision strength, monotone in
    estimated Jaccard). New docs with no collision are absent — they
    are the survivors whose band rows extend the index
    (update_index()).

    Scale shape: bucket-equi-join on (band, bucket) — never all-pairs,
    and never a join against document text. max_bucket_size drops
    DEGENERATE index buckets (boilerplate) from matching, same
    rationale as minhash_lsh_candidates."""
    # shingle+minhash is the dominant per-doc compute — callers that
    # also need the signatures (within-batch pairs, the state append)
    # pass them via new_sigs so the batch is minhashed ONCE
    if new_sigs is None:
        new_sigs = minhash_signatures(
            new_docs,
            text_col,
            id_col,
            n_perms=n_perms,
            shingle_words=shingle_words,
        )
    nb = _band_buckets(new_sigs, id_col, n_perms, bands)
    idx = index
    if max_bucket_size is not None:
        sizes = idx.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
        keep = sizes.filter(F.col("_n") <= max_bucket_size).select(
            "band", "bucket"
        )
        idx = idx.join(keep, ["band", "bucket"], "left_semi")
    cond = (F.col("n.band") == F.col("i.band")) & (
        F.col("n.bucket") == F.col("i.bucket")
    )
    if exclude_self:
        # null-safe: a plain != is null (the pair silently dropped)
        # when either id is null
        cond = cond & ~F.col(f"i.{id_col}").eqNullSafe(F.col(f"n.{id_col}"))
    hits = nb.alias("n").join(idx.alias("i"), cond)
    return hits.groupBy(F.col(f"n.{id_col}").alias(id_col)).agg(
        F.min(F.col(f"i.{id_col}")).alias("first_match"),
        F.countDistinct(F.col("n.band")).cast("long").alias("n_bands_hit"),
    )


def update_index(
    index: DataFrame,
    new_docs: DataFrame,
    flagged: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Index after a batch: existing rows ∪ band rows of the batch's
    SURVIVORS (docs not flagged by dedup_against_index). Keeping
    flagged docs out preserves the greedy invariant — every index id
    is a kept document, so first_match always names a retained doc.
    Pass the batch's signatures via new_sigs (the same frame given to
    dedup_against_index) to avoid re-minhashing survivors — filtering
    per-doc signature rows by surviving ids IS minhashing the
    survivors."""
    if new_sigs is not None:
        surv_bands = _band_buckets(
            new_sigs.join(flagged.select(id_col), id_col, "left_anti"),
            id_col,
            n_perms,
            bands,
        )
        return index.unionByName(surv_bands)
    survivors = new_docs.join(
        flagged.select(id_col), id_col, "left_anti"
    )
    return index.unionByName(
        lsh_index(
            survivors,
            text_col,
            id_col,
            n_perms=n_perms,
            bands=bands,
            shingle_words=shingle_words,
        )
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_perms: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join within bands → candidate pairs
    (id_a < id_b, with the number of matching bands). Never computes
    the cross product: the join key is (band, bucket).

    max_bucket_size: at corpus scale a DEGENERATE bucket (boilerplate,
    empty docs) of k members still emits k²/2 pairs through the bucket
    join — the quadratic tail of an otherwise linear plan. Buckets
    larger than the cap are dropped from pair generation (their members
    are near-identical to thousands of others; exact dedup or a
    representative pass handles them more cheaply). Audit what a cap
    would drop with lsh_bucket_stats(). None (default) = exact."""
    banded = _band_buckets(sigs, id_col, n_perms, bands)
    if max_bucket_size is not None:
        # Capped path: one groupBy((band, bucket)) collecting the
        # member ids, pairs unrolled from the sorted array. vs the
        # former sizes-aggregate + semi-filter + self-join: the whole
        # signature subtree evaluates ONCE instead of three times (no
        # cross-DAG CSE) and two exchanges drop. The member arrays
        # are bounded by the cap, so the per-group unroll can never
        # blow up — which is exactly why the UNCAPPED path below keeps
        # the streaming self-join instead (a degenerate bucket of m
        # members would otherwise materialize one m²/2-element array
        # value in a single aggregation buffer).
        grp = (
            banded.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
            .filter(F.size("_ids") <= max_bucket_size)
        )
        pairs = grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
                    "y -> named_struct('id_a', x, 'id_b', y))))"
                )
            ).alias("_pr")
        ).select("_pr.id_a", "_pr.id_b")
        return pairs.groupBy("id_a", "id_b").agg(
            F.count("*").alias("n_bands")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )


def lsh_bucket_stats(
    banded_or_shingles: DataFrame, cols: list[str]
) -> DataFrame:
    """Size distribution of join groups (LSH buckets / shingle posting
    lists): {size → n_groups}. Run before choosing a cap to see what a
    max_bucket_size / max_doc_freq setting would drop."""
    return (
        banded_or_shingles.groupBy(*cols)
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n_groups"))
        .orderBy(F.desc("size"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = "source",
    shingle_words: int = 3,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Candidates = pairs sharing ≥1 shingle (inverted-index join on the
    shingle — the scalable formulation), optionally restricted to the
    same group to bound fan-out. Jaccard from |∩| and per-doc distinct
    shingle counts: |∪| = n_a + n_b − |∩|.

    max_doc_freq: the classic quadratic blowup of inverted-index
    self-joins is a STOP-SHINGLE shared by m docs → m²/2 join rows.
    Shingles whose document frequency exceeds the cap are excluded
    from candidate generation (standard near-dup practice: ubiquitous
    shingles carry no similarity signal). |∩| then undercounts pairs
    whose overlap includes capped shingles, so the reported jaccard is
    a LOWER BOUND for those pairs; per-doc counts n_a/n_b stay exact.
    Audit a corpus with lsh_bucket_stats(shingles, ["shingle"]).
    None (default) = exact.

    Cost note: at toy scale the cap costs MORE than it saves (the
    doc-frequency aggregate + semi-join outweigh the few m² rows it
    prunes — measured ~9.2 s capped vs 6.5 s uncapped on a 500-doc
    sf0.1 corpus). The inversion flips as the corpus grows: a shingle
    shared by m docs joins m²/2 rows, so one web-scale stop-shingle
    ("the end", a license header) dwarfs the linear pre-pass. Use the
    cap at corpus scale, skip it for small exact runs.
    """
    shingles = df.select(
        F.col(id_col),
        *( [F.col(group_col)] if group_col else [] ),
        F.explode_outer(
            F.array_distinct(F.expr(word_shingles_expr(text_col, shingle_words)))
        ).alias("shingle"),
    )
    # Per-doc distinct-shingle count rides a window over the SAME
    # frame instead of a separate groupBy(id)+two joins after pair
    # generation: the former shape evaluated the explode subtree once
    # more (no cross-DAG CSE) and added two join exchanges to attach
    # n_a/n_b. Computed BEFORE any doc-frequency filter (counts stay
    # exact, as documented) and before the null filter (a NULL-text
    # doc's single null-shingle row counts, matching the old
    # groupBy over the unfiltered frame).
    sh = shingles.withColumn(
        "n_sh", F.count("*").over(Window.partitionBy(id_col))
    )
    if max_doc_freq is not None:
        # Capped path: global doc frequency as a second window (the
        # former df-aggregate + semi-join evaluated the explode subtree
        # yet again), then pairs unrolled from per-(group, shingle)
        # member arrays — bounded by the cap, so the unroll can't blow
        # up, and the whole plan evaluates the explode exactly once.
        sh = sh.withColumn(
            "_df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("_df") <= max_doc_freq)
        grp_keys = ([group_col] if group_col else []) + ["shingle"]
        grp = sh.filter(F.col("shingle").isNotNull()).groupBy(
            *grp_keys
        ).agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), "n_sh"))
            ).alias("_ds")
        )
        pairs = grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ds, (x, i) -> "
                    "transform(slice(_ds, i + 2, size(_ds) - i - 1), "
                    "y -> named_struct('id_a', x.i, 'n_a', x.n_sh, "
                    "'id_b', y.i, 'n_b', y.n_sh))))"
                )
            ).alias("_pr")
        ).select("_pr.*")
        inter = pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(
            F.count("*").alias("n_inter")
        )
    else:
        # Uncapped path keeps the streaming self-join (a degenerate
        # stop-shingle of m docs would materialize an m-element array
        # per group under the unroll — the join streams it instead);
        # n_a/n_b ride the join sides, so the count join is gone.
        a, b = sh.alias("a"), sh.alias("b")
        cond = (F.col("a.shingle") == F.col("b.shingle")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        if group_col:
            cond = cond & (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
        inter = (
            a.join(b, cond)
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.n_sh").alias("n_a"),
                F.col("b.n_sh").alias("n_b"),
            )
            .agg(F.count("*").alias("n_inter"))
        )
    out = inter.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node's label converges to the smallest
    node id reachable from it. The canonical follow-up to candidate-pair
    generation — pairs → duplicate CLUSTERS → keep min-id per cluster.

    Each round is two shuffles (message groupBy + label merge) and the
    round count is the graph DIAMETER (one hop per round) — near-dup
    components are dense and shallow, so typical corpora converge in
    <5 rounds; use ``connected_components_star`` (log-diameter
    large-star/small-star) if a workload ships long chains. Lineage is cut per round
    (localCheckpoint) so the plan doesn't grow exponentially — the
    standard Spark iterative-algorithm pattern. Raises if not converged
    within max_iters (a diameter that large means the input is not
    near-dup pairs).

    nodes: optional (id) DataFrame of ALL nodes; ids absent from any
    edge become singleton clusters labeled by themselves — appended
    AFTER the loop, so iteration cost is proportional to the edge set,
    not the corpus (singletons can never change label).

    Storage: retired generations are unpersisted eagerly (peak = two
    generations); the FINAL generation stays pinned because the
    returned DataFrame reads it — it is released by Spark's
    ContextCleaner once the caller drops the result."""
    sc = edges.sparkSession.sparkContext

    def _ckpt(df):
        """localCheckpoint + the JVM handles of the blocks it pinned,
        so retired generations can be unpersisted EAGERLY — peak
        storage stays at two generations instead of one per round
        (the async ContextCleaner alone releases them only after GC).
        The id diff assumes no concurrent caching in this session
        during the snapshot window (true for driver-loop usage)."""
        jmap = sc._jsc.getPersistentRDDs()
        before = {int(k) for k in jmap.keySet().toArray()}
        out = df.localCheckpoint()
        jmap = sc._jsc.getPersistentRDDs()
        handles = [
            jmap.get(k)
            for k in jmap.keySet().toArray()
            if int(k) not in before
        ]
        return out, handles

    def _retire(handles):
        for h in handles:
            try:
                h.unpersist(False)
            except Exception:
                pass  # best-effort: the ContextCleaner is the backstop

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # materialize the edge list ONCE: without this, every round's
    # message join re-executes the upstream pair-generation pipeline
    und, und_handles = _ckpt(
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    )
    labels, gen_handles = _ckpt(
        und.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    done = False
    for _ in range(max_iters):
        # neighbor labels flow along edges; a node keeps min(own,
        # heard). The convergence check rides the same materialization:
        # _chg is computed in the checkpoint pass, then a cheap agg
        # over the checkpointed rows — one shuffle round + two tiny
        # jobs per iteration.
        msgs = (
            und.join(labels, und["s"] == labels["id"])
            .select(F.col("d").alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("_heard"))
        )
        merged, new_handles = _ckpt(
            labels.withColumnRenamed("label", "_old")
            .join(msgs, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("_old"), F.coalesce(F.col("_heard"), F.col("_old"))
                ).alias("label"),
                (
                    F.coalesce(F.col("_heard"), F.col("_old")) < F.col("_old")
                ).cast("int").alias("_chg"),
            )
        )
        changed = merged.agg(F.sum("_chg")).collect()[0][0] or 0
        _retire(gen_handles)  # the new generation is materialized
        gen_handles = new_handles
        labels = merged.drop("_chg")
        if changed == 0:
            done = True
            break
    _retire(und_handles)
    if not done:
        _retire(gen_handles)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    out = labels.select(F.col("id"), F.col("label").alias("cluster"))
    if nodes is not None:
        singletons = (
            nodes.toDF("id")
            .distinct()
            .join(out.select("id"), "id", "left_anti")
            .withColumn("cluster", F.col("id"))
        )
        out = out.unionByName(singletons)
    return out


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log n) rounds
    regardless of graph DIAMETER, the escape hatch
    ``connected_components``'s docstring promises for long chains
    (min-label propagation runs one round per hop, so a 10^4-link
    chain needs 10^4 rounds; this needs ~14).

    large-star: every node attaches its strictly-greater neighbors to
    the minimum of its closed neighborhood. small-star: every node
    attaches its smaller-or-equal neighbors (and itself) to that
    minimum. The fixed point is a forest of stars centered at each
    component's minimum id — read the labels straight off the edges.

    Per round: two groupBy/join pairs over the CURRENT edge set (which
    only shrinks toward one edge per non-root node). Convergence is
    detected by an (edge-count, order-insensitive checksum) pair
    riding one tiny agg per round; lineage is cut per round like the
    label-propagation variant. Same output schema: (id, cluster),
    singletons appended after the loop.

    Storage-bound note: each generation's localCheckpoint blocks are
    explicitly retired once the NEXT generation has been eagerly
    materialized (the per-round ``_sig`` action), so at most two
    generations live at once. A checkpointed RDD's lineage is
    truncated — if an executor holding a RETIRED generation's blocks
    is lost while a stage retry still references them, that retry
    fails instead of recomputing (Spark's own warning). That window
    is empty here because nothing re-reads a generation after its
    successor's action completes; deployments with frequent executor
    loss can trade memory for safety by letting the ContextCleaner
    retire blocks instead (drop the ``_retire`` calls)."""
    sc = edges.sparkSession.sparkContext

    def _ckpt(df):
        jmap = sc._jsc.getPersistentRDDs()
        before = {int(k) for k in jmap.keySet().toArray()}
        out = df.localCheckpoint()
        jmap = sc._jsc.getPersistentRDDs()
        handles = [
            jmap.get(k)
            for k in jmap.keySet().toArray()
            if int(k) not in before
        ]
        return out, handles

    def _retire(handles):
        for h in handles:
            try:
                h.unpersist(False)
            except Exception:
                pass  # best-effort: the ContextCleaner is the backstop

    def _canon(df):
        # undirected edge → (larger, smaller), self-loops dropped
        return (
            df.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _sig(df):
        # order-insensitive edge-set fingerprint: one tiny agg.
        # decimal sum: a long sum of xxhash64 values overflows under
        # ANSI arithmetic (Spark 4 default)
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0)

    e, gen_handles = _ckpt(
        _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    )
    sig = _sig(e)
    done = sig[0] == 0
    for _ in range(max_iters):
        if done:
            break
        bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bi.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("_mn"), F.col("u"))
        # large-star: strictly-greater neighbors → closed-nbhd min
        ls = _canon(
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
        )
        # small-star over the canonical (larger→smaller) edges: every
        # smaller neighbor AND the node itself → that min
        mins2 = ls.groupBy("u").agg(F.min("v").alias("_mn"))
        ss = _canon(
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
            .union(mins2.select(F.col("u"), F.col("_mn").alias("v")))
        )
        nxt, new_handles = _ckpt(ss)
        nsig = _sig(nxt)
        _retire(gen_handles)
        gen_handles = new_handles
        e = nxt
        if nsig == sig:
            done = True
        sig = nsig
    if not done:
        _retire(gen_handles)
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} "
            "rounds"
        )
    # fixed point = stars: every edge is (member, component-min)
    out = e.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
    )
    out = out.unionByName(roots).distinct()
    # nodes that reached the loop only via self-loops vanished at the
    # canonicalization — relabel them as their own singleton so the
    # output contract matches connected_components (which keeps them)
    endpoints = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    out = out.unionByName(
        endpoints.join(out.select("id"), "id", "left_anti").withColumn(
            "cluster", F.col("id")
        )
    )
    if nodes is not None:
        singletons = (
            nodes.toDF("id")
            .distinct()
            .join(out.select("id"), "id", "left_anti")
            .withColumn("cluster", F.col("id"))
        )
        out = out.unionByName(singletons)
    return out


def dedup_cluster_reps(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """doc_id → (cluster, is_rep): cluster = min doc id of the doc's
    duplicate component (docs in no pair are their own singleton
    cluster); is_rep marks the one row per cluster a dedup pass keeps."""
    cc = connected_components(pairs, nodes=df.select(id_col))
    return cc.select(
        F.col("id").alias(id_col),
        "cluster",
        (F.col("id") == F.col("cluster")).alias("is_rep"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """SimHash over whitespace tokens: per bit b, sum ±1 votes of each
    token's sha-derived hash bit; simhash = Σ (vote_b > 0) << b.

    ONE explode (tokens) and ONE fully-combinable aggregate with
    n_bits conditional-sum columns — the per-bit vote is computed as a
    codegen expression inside the aggregate, so no tokens×n_bits
    intermediate ever exists (the naive bits-explode shuffles n_bits×
    the corpus token count; at corpus scale that is 16× the data for
    zero information)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", sha_bigint(F.col("tok")))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"_v{b}")
            for b in range(n_bits)
        ]
    )
    sim = None
    for b in range(n_bits):
        # JVM-side shift, not a Python literal: F.lit(1 << 63) would
        # overflow LongType at plan build, and 64 bits is the
        # canonical SimHash width (bit 63 lands on the sign bit, as a
        # 64-bit fingerprint should)
        term = F.when(
            F.col(f"_v{b}") > 0, F.expr(f"shiftleft(cast(1 as bigint), {b})")
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.alias("simhash"))


def duplicate_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication stats at n-word granularity (the
    Spark re-expression of suffix-array exact-substring dedup, Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): every n-word shingle occurring in >= ``min_docs``
    DISTINCT docs marks all of its occurrences, and each doc's marked
    shingle start positions are merged into maximal covered spans
    (gaps-and-islands: shingles starting at p and q chain iff
    q <= p + n, i.e. their n-word windows overlap or touch).

    Output: one row per input doc (spine join — NULL/short text never
    drops a row): (id_col, n_words, n_spans, dup_words) where
    dup_words is the number of word positions covered by duplicated
    spans (clamped to n_words for the short-doc degenerate shingle).
    Downstream policy (drop doc if dup_words/n_words high, or excise
    the spans) composes on top; the stats are the expensive part.

    Scale shape: posexplode -> one (shingle-sha) groupBy counting
    distinct docs via a (sha, doc) pre-dedupe (both map-side
    combinable) -> one shuffle join of occurrences against the
    duplicated-sha set (hits only; shrink-keyed on the 60-bit sha,
    never the raw shingle string) -> per-doc window bounded by doc
    length. Never all-pairs; the reference has no counterpart
    (dedup family beyond plugin-debezium's CDC scope)."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col),
        F.size(w).alias("n_words"),
        F.posexplode(F.expr(word_shingles_expr(text_col, n))).alias(
            "_pos", "_sh"
        ),
    ).select(
        id_col,
        "n_words",
        "_pos",
        sha_bigint(F.col("_sh")).alias("_h"),
    )
    dup = (
        base.select(id_col, "_h")
        .dropDuplicates([id_col, "_h"])
        .groupBy("_h")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    occ = base.join(dup, "_h").select(id_col, "n_words", "_pos")
    ord_w = Window.partitionBy(id_col).orderBy("_pos")
    isl = occ.withColumn(
        "_new",
        F.when(
            F.lag("_pos").over(ord_w).isNull()
            | (F.col("_pos") > F.lag("_pos").over(ord_w) + n),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy(id_col, "_island").agg(
        F.min("_pos").alias("_s"),
        F.least(F.max("_pos") + n, F.first("n_words")).alias("_e"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("_e") - F.col("_s")).alias("dup_words"),
    )
    return (
        docs.select(F.col(id_col), F.size(w).alias("n_words"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("dup_words", F.lit(0).cast("long")).alias(
                "dup_words"
            ),
        )
    )
