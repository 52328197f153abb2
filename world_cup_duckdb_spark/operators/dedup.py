"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Extension surface for training-data pipelines (SURVEY.md Phase 5). Scale
design notes:

- **Exact**: hash-groupBy on md5(normalized text). One shuffle keyed by a
  uniform hash → no skew by construction. The canonical representative is
  min(doc_id) so the choice is deterministic.
- **MinHash+LSH**: shingle → k seeded min-hashes → band → bucket join.
  Only documents sharing a band bucket are ever paired, so the pairwise
  cost is ~Σ bucket², not n². At 100 TB the guard rails are bucket-size
  caps (drop/flag pathological buckets, e.g. boilerplate — implemented:
  ``split_bands_by_bucket_size`` /
  ``lsh_candidate_pairs(max_bucket_size=...)``) and banding
  parameters; the bucket join itself shuffles on (band, key) which is
  md5-uniform → skew only from true duplicate clusters, which AQE's skew
  join splits.
- **SimHash**: per-document 16-bit signature from token-frequency-weighted
  md5 bits; near-dup candidates share a signature (or a band of it).
  Entirely map-side until the final tiny aggregation.
- **n-gram Jaccard**: exact set similarity on char shingles — quadratic,
  so it is the *verify* stage applied to LSH candidates (or bounded
  samples), never a full corpus op.

All hashes are md5 (portable across engines — see functions/strings.py),
which makes every stage differentially testable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from world_cup_duckdb_spark.operators.text import (
    char_shingles, tokens, tokens_sql, word_shingles,
)


# Re-exported from operators.scale (the shuffle-management toolkit);
# shingle md5 hashing is this file's CPU hot spot and the reason the
# helper exists — see minhash_bands.
from world_cup_duckdb_spark.operators.scale import spread_for_cpu_work  # noqa: E402,F401


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: (text_hash, canonical_doc_id, n_copies)
    for every text appearing more than once."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(f"canonical_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_words: int = 3,
) -> DataFrame:
    """Per-document MinHash signatures: (id, sig0..sig{n-1}).

    Signature_i = min over shingles of an 8-hex-char (32-bit) slice of a
    seeded md5 — min over a seeded uniform hash is a valid MinHash
    permutation, the 4 slices of one digest are independent uniform
    streams, and hex-string min is portable. So num_hashes signatures
    cost only ceil(num_hashes/4) md5 evaluations per shingle (md5 is the
    map-side hot spot; slicing one digest 4 ways measured ~1.5× faster
    end-to-end than one digest per signature).
    """
    # Signatures are computed WITHOUT a shuffle: min-over-shingles runs as
    # array_min(transform(...)) inside the row, so no shingle explode ever
    # hits an exchange — the per-doc row count is unchanged end-to-end.
    # (The earlier explode → groupBy(min) formulation shuffled nothing
    # extra either — partial aggregation combined map-side — but paid the
    # 2M-row explode and hash-agg; the in-row form measured ~2× faster at
    # sf0.1.)
    # r12 form: the whole pipeline is FOUR selectExpr stages of SQL
    # strings rather than a Column-builder loop, for two measured
    # reasons (guide §1.2 per-task work + the Python binding):
    # 1. The tokenization is STAGED through its own Project (`_t`): the
    #    old single-select form referenced split(text) three times
    #    inside higher-order lambdas, which are excluded from codegen
    #    subexpression elimination (SPARK-35410) — every row re-split
    #    its document repeatedly; CollapseProject's cost rule
    #    (SPARK-36718) keeps the staged Project separate, pinning ONE
    #    split per row (the stage_token_counts discipline).
    # 2. Each selectExpr is ONE py4j round trip; the Column/lambda form
    #    cost ~1,200 round trips ≈ 0.45 s of driver-side chatter per
    #    plan build — paid EVERY run by the stateful dedup queries that
    #    rebuild around their band persist.
    n_seeds = (num_hashes + 3) // 4
    k = shingle_words
    qid = f"`{id_col}`"
    staged = spread_for_cpu_work(
        docs.select(F.col(id_col), F.col(text_col)), id_col
    ).selectExpr(qid, f"{tokens_sql(text_col)} AS _t")
    sh = staged.selectExpr(
        qid,
        f"array_distinct(CASE WHEN size(_t) >= {k} THEN "
        f"transform(sequence(1, size(_t) - {k - 1}),"
        f" i -> array_join(slice(_t, i, {k}), ' ')) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END) AS _sh",
    )
    doc = sh.selectExpr(
        qid,
        "_sh",
        *[
            f"transform(_sh, s -> md5(concat('{seed}:', s))) AS _h{seed}"
            for seed in range(n_seeds)
        ],
    )
    return doc.selectExpr(
        qid,
        *[
            f"array_min(transform(_h{i // 4},"
            f" h -> substring(h, {(i % 4) * 8 + 1}, 8))) AS sig{i}"
            for i in range(num_hashes)
        ],
    )


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """Per-document LSH band keys: (id, band, band_key).

    Bands concatenate `band_size` consecutive signatures from
    :func:`minhash_signatures`. The heavy part (shingling + hashing) is
    map-side; the downstream band self-join is the pipeline's only
    shuffle.
    """
    sigs = minhash_signatures(
        docs,
        text_col,
        id_col,
        num_hashes=num_hashes,
        shingle_words=shingle_words,
    )
    return bands_from_signatures(sigs, id_col, num_hashes, band_size)


def bands_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, band_key) from a signature table — a map-side stack
    unpivot of the tiny per-doc signature row; band keys concatenate
    `band_size` consecutive signatures. Split out so callers that need
    BOTH the signatures and the bands (e.g. the LSH-calibration query)
    compute the expensive signature stage once."""
    n_bands = num_hashes // band_size
    stack_args = ", ".join(
        "{b}, concat({cols}) ".format(
            b=b,
            cols=", ".join(
                f"sig{b * band_size + i}" for i in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return sigs.selectExpr(
        f"`{id_col}`",
        f"stack({n_bands}, {stack_args}) AS (band, band_key)",
    )


def split_bands_by_bucket_size(
    bands: DataFrame, max_bucket_size: int, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Split a band table into (capped_bands, flagged_buckets).

    ``capped_bands`` keeps every (id, band, band_key) row whose bucket
    has ≤ ``max_bucket_size`` members; ``flagged_buckets`` is the
    side-output of pathological buckets — (band, band_key, bucket_size)
    for every bucket over the cap. This is the 100 TB guard rail for the
    PAIR-EMITTING path: a single 10k-member boilerplate bucket is 50M
    clique pairs; with the cap it emits nothing into the pair join and
    surfaces in the flagged output instead (route it to
    :func:`lsh_star_edges` when connectivity through boilerplate is
    still wanted — star edges are linear in bucket size).

    Scale: bucket sizes come from a COUNT window partitioned by
    (band, band_key) — the exact key the downstream bucket join shuffles
    on, so the one exchange is shared: the capped relation arrives at
    the pair join already hash-partitioned on its join key and Catalyst
    plans no re-exchange (measured: the cap's whole cost is the window
    pass; the earlier hash-agg + join-back formulation paid two extra
    band-table exchanges and ~34% on ext_dedup_minhash at sf0.1).
    Per-bucket state is a counter, never a collected member list, so a
    pathological bucket costs O(1) memory.
    """
    # SQL-string window (one py4j round trip; the Column-builder form
    # cost ~10× the driver chatter — see minhash_signatures' r12 note).
    tagged = bands.selectExpr(
        "*", "count(1) OVER (PARTITION BY band, band_key) AS bucket_size"
    )
    capped = tagged.where(f"bucket_size <= {int(max_bucket_size)}").select(
        id_col, "band", "band_key"
    )
    flagged = (
        tagged.where(f"bucket_size > {int(max_bucket_size)}")
        .select("band", "band_key", "bucket_size")
        .distinct()
    )
    return capped, flagged


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket —
    the bucket join at the heart of LSH dedup.

    ``max_bucket_size`` (recommended in production) drops buckets with
    more members than the cap from pair emission via
    :func:`split_bands_by_bucket_size`, bounding output at
    Σ min(bucket, cap)² instead of Σ bucket² — the difference between a
    boilerplate-heavy crawl finishing and OOMing. Docs in a dropped
    bucket still pair through any other band they share; recover
    connectivity *within* dropped buckets with :func:`lsh_star_edges`
    over the flagged side-output if needed."""
    capped = max_bucket_size is not None
    if capped:
        bands, _ = split_bands_by_bucket_size(bands, max_bucket_size, id_col)
    a = bands.selectExpr(
        f"`{id_col}` AS doc_a", "band AS band_a", "band_key"
    )
    # SHUFFLE_HASH, not broadcast and not sort-merge (guide §3.1): both
    # self-join sides are the SAME band relation already hash-partitioned
    # by the join key (band, band_key) — the cap window established that
    # exchange — so the shuffled hash join reuses BOTH exchange outputs
    # with no new shuffle, no sort, and no broadcast build (the planner's
    # default at bench scale was a broadcast of the whole band table:
    # a per-rep driver collect locally, and at corpus scale not a plan at
    # all). Per-partition build memory is |bands|/shuffle-partitions of
    # (id, band, 16-char key) rows on md5-uniform keys — metadata-grain,
    # sized by the shuffle-partition count, never by bucket skew (the cap
    # bounds buckets; the hash spreads them). Measured interleaved
    # min-of-6 at sf0.1: 1.50 → 1.28 s on ext_dedup_minhash.
    # CAPPED PATH ONLY (ADVICE r12): without the cap there is no window
    # exchange to share, so the hint would just suppress a
    # possibly-better broadcast for small band tables — the planner
    # chooses there.
    b = bands.selectExpr(
        f"`{id_col}` AS doc_b", "band AS band_b", "band_key AS key_b"
    )
    if capped:
        b = b.hint("shuffle_hash")
    return (
        a.join(
            b,
            F.expr("band_a = band_b AND band_key = key_b AND doc_a < doc_b"),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_star_edges(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Connectivity-equivalent replacement for the all-pairs bucket
    clique: link every bucket member to the bucket's MINIMUM id (a star
    per bucket) instead of emitting all C(n,2) pairs.

    For connected-components clustering the two edge sets induce the
    same components — every clique is connected through its minimum — so
    downstream clusters are identical, but edge count drops from
    quadratic to linear in bucket size. This is the difference between
    LSH-dedup working and dying at 100 TB: synthetic/boilerplate-heavy
    corpora produce buckets with thousands of members, and a single
    10k-doc bucket is 50M clique edges vs 10k star edges. Use
    `lsh_candidate_pairs` only when each candidate pair is individually
    verified downstream (e.g. exact-Jaccard filtering).

    The hub attaches via a MIN window over the bucket key (r13, guide
    §2.4): the window's one (band, band_key) exchange replaces the old
    hash-aggregate + join-back pair — the exact rework
    split_bands_by_bucket_size already committed for the cap, applied
    to the star hub. One band-table exchange instead of two plus a
    join, and the band relation is consumed ONCE, so callers that cut
    it for double consumption no longer need to. Same rows (min per
    bucket attached to every member row), identical downstream
    clusters — interleaved min-of-6 at sf0.1 on the corpus-prep graph:
    1.69 → 1.44 s for star edges + CC. Identifiers are backtick-quoted
    (ADVICE r12: reserved-word/special-char column names must not
    mis-parse)."""
    hub = bands.selectExpr(
        "*",
        f"min(`{id_col}`) OVER (PARTITION BY band, band_key) AS hub",
    )
    return (
        hub.where(f"`{id_col}` != hub")
        .selectExpr("hub AS doc_a", f"`{id_col}` AS doc_b")
        .distinct()
    )


def simhash16(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash per document: (id, simhash).

    Each token votes ±1 on 16 bits drawn from the first 4 hex nibbles of
    md5(token); the signature takes the sign of each bit-sum. Token
    multiplicity is kept (frequency weighting). The whole computation is
    one explode + one hash-agg of 16 sums — map-side partial aggregation
    carries 16 ints per (doc, partition).
    """
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = F.md5(F.col("tok"))
    bit_sums = []
    for j in range(16):
        nib = (
            F.instr(F.lit("0123456789abcdef"), F.substring(h, j // 4 + 1, 1)) - 1
        )
        bit = F.floor(nib / (2 ** (j % 4))) % 2
        bit_sums.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{j}")
        )
    sums = tok.groupBy(id_col).agg(*bit_sums)
    sim = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, 2**j).otherwise(0)
        sim = term if sim is None else sim + term
    return sums.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact char-n-gram Jaccard over all pairs of ``docs``:
    (doc_a, doc_b, jaccard) where jaccard ≥ threshold.

    Quadratic — apply to LSH candidates or bounded subsets only (the
    registry query restricts to doc_id < 100). Set ops run as JVM array
    intrinsics on pre-deduped shingle arrays.
    """
    with_sh = docs.select(
        F.col(id_col), char_shingles(text_col, n).alias("sh")
    )
    a = with_sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = with_sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    # NULL (filtered by the >= threshold below) when both shingle sets
    # are empty (texts shorter than n): the oracle's 0/0.0 is NULL in
    # DuckDB, while an unguarded divide errors under ANSI mode.
    un = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(un > 0, F.size(F.array_intersect("sh_a", "sh_b")) / un)
    return (
        pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact char-n-gram Jaccard pairs ≥ ``threshold`` via PREFIX
    FILTERING (Chaudhuri et al. SSJoin / AllPairs family) — same result
    set as ``ngram_jaccard_pairs``, without the quadratic cross join.

    Principle: order every document's shingle set by one global total
    order (md5 of the shingle — portable across engines); if
    J(A,B) ≥ t then A and B must share at least one shingle within each
    one's first ``|s| - ceil(t·|s|) + 1`` shingles (otherwise the
    overlap is too small to reach t). So only documents that collide on
    a *prefix* shingle become candidates; exact Jaccard then verifies
    candidates only.

    Scale: candidate generation is an equi-join on the inverted prefix
    index — shuffle keyed by shingle, hash join, no nested loop. The
    verify stage joins the two full shingle arrays back by doc id and
    evaluates set intersection/union as JVM array intrinsics. Candidate
    volume is bounded by prefix-shingle co-occurrence (rare-first
    ordering would shrink it further by frequency-sorting the global
    order; md5 order keeps the oracle portable)."""
    sh = docs.select(F.col(id_col), char_shingles(text_col, n).alias("sh"))
    sized = sh.select(
        F.col(id_col),
        "sh",
        F.size("sh").alias("sz"),
        F.expr(
            "transform(array_sort(transform(sh, s -> struct(md5(s) AS h, s AS s)))"
            ", x -> x.s)"
        ).alias("ordered"),
    )
    prefix_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast(
        "int"
    )
    prefix = sized.select(
        F.col(id_col),
        F.explode(F.slice("ordered", F.lit(1), prefix_len)).alias("p"),
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.p") == F.col("b.p"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    # No zero-union guard needed here: every candidate pair shares at
    # least one prefix shingle by construction, so the union is ≥ 1
    # (empty-shingle docs emit no prefix rows and can't reach cand).
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def with_recrawl(docs: DataFrame, id_col: str = "doc_id", offset: int = 1_000_000) -> DataFrame:
    """Test fixture helper: union a corpus with an id-shifted copy of
    itself (a simulated re-crawl), guaranteeing every document has an
    exact duplicate. Used by the dedup registry queries so the detection
    path produces non-trivial output on the synthetic corpus."""
    copy = docs.withColumn(id_col, F.col(id_col) + offset)
    return docs.unionByName(copy)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 15,
) -> DataFrame:
    """Duplicate clusters from candidate pairs: (doc_id, cluster_id) where
    cluster_id = the minimum id reachable through the pair graph — the
    step that turns pairwise near-dup evidence into dedup groups with a
    deterministic canonical representative.

    Iterative min-label propagation (Pregel-lite): every node starts
    labeled with itself; each round takes the min of its own and its
    neighbors' labels; convergence in O(component diameter) rounds —
    near-dup clusters are shallow (stars around a canonical doc), so a
    handful of rounds suffices. Each round is one shuffle keyed by node.
    The driver-side loop iterates ROUNDS, never rows. Raises
    ``RuntimeError`` rather than returning intermediate labels when a
    component's diameter exceeds ``max_iterations``.

    Job shape (r12, guide §1.2): every intermediate (edge set, seed
    labels, each round's labels) is a LAZY ``localCheckpoint`` cut —
    the logical plan truncates to a LogicalRDD leaf immediately (so
    per-round plans stay constant-size, never nested histories), but
    no job runs at the cut. The ONLY action is the convergence probe,
    a full ``count`` of changed labels, which materializes every
    pending round's lazy chain as ONE multi-stage job — the first
    probe folds the edges build and the seed in. The earlier EAGER
    form paid 2 + 2×rounds jobs (edges, seed, then checkpoint + probe
    per round); r12's lazy form paid rounds jobs for the same shuffles
    (measured on the ext_corpus_prep_pipeline graph at sf0.1,
    interleaved min-of-6: 1.27 s → 1.12 s, and the effect compounds in
    the fused pipeline where the probe jobs also absorb the upstream
    band materialization). Two designs that measured WORSE, for the
    record: lazy ``persist()`` cuts (plans re-nest every round —
    analysis cost grows superlinearly, 2-3× slower) and a ``limit(1)``
    convergence probe (short-circuits materialization, so later rounds
    recompute uncached partitions through the full join lineage).

    Probe schedule (r13, VERDICT r12 item 1 — cut driver-synchronous
    rounds): probes run after rounds 1, 3, 5, … — the first probe
    catches the star-shaped graphs that converge immediately, then
    TWO propagation rounds ride in each probe job, halving the
    remaining driver round-trips (job submissions + count results)
    for deep components. Each batched probe compares the batch's LAST
    round against its second-to-last: min-label propagation is a
    monotone map with a fixpoint, so "the final round changed
    nothing" is exactly convergence, and a budget of ``k`` rounds
    raises in precisely the same graphs as the probe-per-round loop
    (the schedule always lands a probe on round ``max_iterations``).
    Labels after extra post-convergence rounds are unchanged
    (propagation is idempotent at the fixpoint), so results are
    bit-identical to the per-round loop. Measured interleaved
    min-of-8 on the corpus-prep graph (3-round convergence: 3 probe
    jobs → 2) at sf0.1: 1.81 → 1.54 s. A self-loop-fused round shape
    (old label from an edges self-loop, 1 join instead of 2 per
    round) measured WORSE (1.88 vs 1.81) and was rejected.

    Fault tolerance note (unchanged from the eager form): checkpoint
    blocks are executor-local and non-replicated; on a cluster, use a
    reliable checkpoint dir for multi-hour CC runs instead
    (session.py:CLUSTER_PROFILE docs).
    """
    half = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    spark = pairs.sparkSession
    n_part = int(str(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    # Pre-partition the (bidirected) edge set by the per-round join key
    # and cut it: the checkpointed RDD preserves the hash partitioning,
    # so every round's edges⋈labels join reuses the layout and only the
    # (node-sized) label table shuffles per round — the loop cost is
    # rounds × label-shuffle, not rounds × edge-shuffle.
    edges = (
        half.unionByName(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(n_part, F.col("dst"))
        .localCheckpoint(eager=False)
    )
    # Seed one propagation round ahead: label_0 = min(self, neighbors) —
    # star-shaped dup clusters (the common case) converge immediately.
    # NOT checkpointed: round 1's two consumers re-derive this agg from
    # the checkpointed edge RDD (cheap, node-grain) while skipping the
    # cut saves a whole plan→RDD compile per CC call (interleaved
    # min-of-6 at sf0.1: 1.44 → 1.31 s); round 1's own checkpoint then
    # bounds every later round's lineage as before.
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.min("src")).alias("label")
    )
    rounds_left = max_iterations
    batch = 1
    converged = False
    while rounds_left > 0:
        k = min(batch, rounds_left)
        new_labels = labels
        for _ in range(k):
            neighbor_min = (
                edges.join(new_labels, edges["dst"] == new_labels["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            # Keep the old label in the checkpointed frame so convergence
            # is a filter over materialized data — no extra join job. The
            # intra-batch checkpoint stays: the mid-batch labels feed BOTH
            # the next round's edge join and its own-label side, and
            # without the cut that duplicated subtree would compute once
            # per consumer (exchange reuse dedups exchanges, not the join
            # operators above them).
            prev = new_labels
            new_labels = (
                prev.join(
                    neighbor_min, prev["node"] == neighbor_min["src"], "left"
                )
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nlabel", F.col("label"))
                    ).alias("label"),
                    F.col("label").alias("old"),
                )
                .localCheckpoint(eager=False)
            )
        # Full count, NOT limit(1): the count consumes every partition,
        # so every pending lazy checkpoint is COMPLETELY materialized by
        # the one probe job and later rounds scan checkpointed blocks.
        # `old` is the batch's second-to-last round, so changed == 0 is
        # "the final round was a fixpoint step" — exact convergence.
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("node", "label")
        rounds_left -= k
        batch = 2
        if changed == 0:
            converged = True
            break
    if not converged:
        # Fail loudly: a component whose diameter exceeds the round
        # budget would otherwise return intermediate labels as if they
        # were converged clusters — silently wrong dedup groups (e.g. a
        # chain of gradually-drifting templated docs where only
        # consecutive members share an LSH bucket).
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (rounds needed ~= component "
            "diameter) or pre-contract obvious stars"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
