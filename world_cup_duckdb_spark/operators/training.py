"""Training-data mixing and ordering operators (parametrized library
forms of queries/ext_training3.py — that module pins the alpha=0.5 /
8-shard instances to DuckDB oracles; these are the knobs a user turns).

Extension surface (not reference-derived — SURVEY.md Phase 5): the two
transforms between "weighted corpus" and "the byte stream the trainer
reads": temperature-smoothed source mixing and deterministic epoch
shuffling. Both are pure built-in expressions — JVM-side, codegen-able,
no Python in the row path.

Scale contracts:
- `temperature_mix`: one map-side-combined aggregate produces an
  O(#groups) multiplier relation that BROADCASTS; the corpus side stays
  map-only (hash coin + explode). No doc-level shuffle, ever.
- `epoch_shuffle`: one hash-partition exchange on (epoch, shard) plus a
  shard-LOCAL sort — the TeraSort-free global permutation. Set
  `n_shards` ~ cluster cores so every local sort fits in memory at any
  corpus size; each (epoch, shard) is one writer task / output file.

Determinism: membership/order derive only from md5 of stable ids (never
from partitioning, sampling RNG, or float accumulation order), so both
ops are reproducible across engines, runs, and cluster sizes. With
alpha=0.5 the multiplier is sqrt(cast/cast) — correctly-rounded IEEE
ops only, hence bit-portable; other alphas go through pow(), which is
deterministic within an engine but not IEEE-pinned across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from world_cup_duckdb_spark.functions.strings import sql_string

#: 2^32 — the md5-prefix coin space (first 8 hex digits).
COIN_SPACE = 4294967296.0


def temperature_mix(
    df: DataFrame,
    weight_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    max_upsample: float = 8.0,
    salt: str = "tmix-",
) -> DataFrame:
    """Temperature-based mixture sampling: upsample every group toward
    the largest one by m_g = min(max_upsample, (c_max / c_g)^alpha),
    where c_g = sum(weight_col) per group (character/token budgets —
    LLM mixes weigh by tokens, not document counts). The fractional
    part of m_g is realized per-row by a deterministic md5 coin on
    (salt, id), so the realized mix never depends on partitioning.

    Returns the input rows with an extra int `copy_nr` (1..n), one row
    per realized copy; rows whose group multiplier rounds to zero
    copies are dropped (only possible when alpha or the weights invert
    the smoothing — with upsampling semantics m_g >= 1 always). Rows
    with a NULL group are dropped by the inner multiplier join (a null
    source has no budget to smooth toward); filter or fill upstream if
    they must survive. A group whose weights sum to zero is pinned to
    multiplier 1.0 (rows pass through once) — the when(_c > 0) guard
    exists to define that zero-budget semantics, not to dodge an
    error: double/0 is IEEE Infinity in both engines, ANSI or not,
    and Infinity would otherwise silently cap at max_upsample.
    """
    import math

    #: floor(max_upsample) + 1 copies must fit an INT for the explode
    #: sequence — and any larger multiplier is a config error, not a
    #: mix (2^31 copies of one row is a 2-billion-x blowup).
    _MAX_COPIES = 2**31 - 2

    if not (
        math.isfinite(max_upsample) and 1.0 <= max_upsample <= _MAX_COPIES
    ) or not (math.isfinite(alpha) and alpha >= 0.0):
        # `not (x >= bound)` (rather than `x < bound`) so NaN — for
        # which every comparison is False — cannot slip past the guard
        # and silently cap every group at max_upsample.
        raise ValueError(
            f"temperature_mix needs finite 1 <= max_upsample <= "
            f"{_MAX_COPIES} and finite alpha >= 0, got "
            f"max_upsample={max_upsample}, alpha={alpha}"
        )
    stats = df.groupBy(group_col).agg(
        F.sum(weight_col).cast("bigint").alias("_c")
    )
    # SQL-string expression building below (one py4j round trip per
    # projection instead of a Column-builder call per node — the
    # minhash_signatures r12 rationale; this operator sits inside the
    # stateful corpus-prep pipeline that rebuilds its plan every run).
    # cmax via an unpartitioned window over the O(#groups) stats
    # relation — NOT a second aggregate over the corpus: a separate
    # stats.agg(max) sub-plan re-scans and re-shuffles the full input
    # (the two subtrees pick up different pushed filters, so Spark
    # cannot reuse the exchange), doubling the stats pass at scale.
    # bounded O(#groups) stats relation: constant partition key keeps
    # the plan single-partition-equivalent without WindowExec's
    # no-partition warning (functions.bounded_one_partition's
    # pmod(hash(anchor), 1) form, inlined as SQL)
    ratio = (
        f"CAST(MAX(_c) OVER (PARTITION BY pmod(hash(`{group_col}`), 1))"
        f" AS DOUBLE) / CAST(_c AS DOUBLE)"
    )
    m = (
        f"SQRT({ratio})"
        if alpha == 0.5
        else f"POWER({ratio}, {alpha!r}D)"
    )
    mult = stats.selectExpr(
        f"`{group_col}`",
        f"CASE WHEN _c > 0 THEN LEAST({max_upsample!r}D, {m})"
        f" ELSE 1.0D END AS _m",
    )
    coin = (
        f"CAST(conv(substring(md5(concat({sql_string(salt)},"
        f" CAST(`{id_col}` AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    threshold = (
        f"CAST(FLOOR((_m - FLOOR(_m)) * {COIN_SPACE!r}D) AS BIGINT)"
    )
    planned = df.join(F.broadcast(mult), group_col).selectExpr(
        "*",
        f"CAST(FLOOR(_m) AS BIGINT)"
        f" + CAST(({coin}) < ({threshold}) AS BIGINT) AS _n_copies",
    )
    return (
        planned.where("_n_copies > 0")
        # explode is a generator — it cannot nest inside CAST in a
        # select list; sequence(1, INT) already yields INT elements,
        # matching the old form's (no-op) final cast.
        .selectExpr(
            "*",
            "explode(sequence(1, CAST(_n_copies AS INT))) AS copy_nr",
        )
        .drop("_m", "_n_copies")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str | list[str] = "doc_id",
    n_epochs: int = 2,
    n_shards: int = 8,
    salt: str = "",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic epoch shuffle: for each of `n_epochs` epochs, give
    every row a (shard, pos) under an epoch-salted md5 permutation —
    shard from the hash prefix, position by ranking the hash suffix
    within the shard (tie-broken on the id, so ranks are total even
    under md5 collisions). Every epoch sees a different but fully
    reproducible order with no RNG state to checkpoint.

    `id_col` must UNIQUELY key the rows — duplicate ids hash
    identically, so the copies would land adjacent in the same shard
    every epoch (the exact correlation shuffling exists to remove) and
    their rank assignment would be partition-order dependent. When
    shuffling `temperature_mix` output (duplicate doc_ids by design,
    one per copy), pass the composite key: id_col=["doc_id",
    "copy_nr"] — each copy then shuffles independently. Components are
    length-prefix encoded into the hash input, so distinct key TUPLES
    never hash identically even when values contain the delimiter.

    ``carry`` columns pass through UNHASHED (payload the consumer needs
    per shuffled row — e.g. the char budget a downstream packer bins
    on) so pipelines don't need a corpus-sized join back to the input.

    Returns (epoch int, shard int, pos bigint, <id cols>, <carry>).
    """
    if n_epochs < 1 or n_shards < 1:
        # sequence(0, n_epochs-1) silently flips to a DESCENDING range
        # for n_epochs=0 ([0, -1]) — fail loudly instead.
        raise ValueError(
            f"epoch_shuffle needs n_epochs >= 1 and n_shards >= 1, "
            f"got n_epochs={n_epochs}, n_shards={n_shards}"
        )
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    carry_cols = list(carry)
    quoted_ids = [f"`{c}`" for c in id_cols]
    quoted_carry = [f"`{c}`" for c in carry_cols]
    # SQL-string projections (one py4j round trip each — the
    # minhash_signatures r12 rationale); identifiers backtick-quoted
    # (ADVICE r12: reserved-word/special-char column names must not
    # mis-parse).
    epochs = df.selectExpr(
        *quoted_ids,
        *quoted_carry,
        f"explode(sequence(0, {n_epochs - 1})) AS epoch",
    )
    # Length-prefixed component encoding ("-<len>:<value>") so the
    # composite key is INJECTIVE: with a bare "-" join, ids containing
    # "-" can collide (("a-1","2") vs ("a","1-2")) and the colliding
    # rows would draw correlated shard/position every epoch.
    hash_parts = [sql_string(salt), "CAST(epoch AS STRING)"]
    for c in quoted_ids:
        s = f"CAST({c} AS STRING)"
        hash_parts += ["'-'", f"CAST(LENGTH({s}) AS STRING)", "':'", s]
    hx = f"md5(concat({', '.join(hash_parts)}))"
    keyed = epochs.selectExpr(
        "CAST(epoch AS INT) AS epoch",
        f"CAST(CAST(conv(substring({hx}, 1, 8), 16, 10) AS BIGINT)"
        f" % {n_shards} AS INT) AS shard",
        f"substring({hx}, 9, 16) AS _hkey",
        *quoted_ids,
        *quoted_carry,
    )
    order_cols = ", ".join(["_hkey", *quoted_ids])
    return keyed.selectExpr(
        "epoch",
        "shard",
        f"CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard"
        f" ORDER BY {order_cols}) AS BIGINT) AS pos",
        *quoted_ids,
        *quoted_carry,
    )
