"""Text-analysis operators for large-scale training-data pipelines.

Extension surface (not reference-derived — SURVEY.md Phase 5): language
identification, quality scoring, token counting, document fingerprinting
over the `documents` table. All pure built-in expressions (split /
higher-order array functions / md5) — JVM-side, codegen-able, no Python in
the row path, so they scale linearly with input splits at 100 TB.

Portability: hashes are md5-based (queries/ext_dedup.py:split_bucket_sql
rationale) so every derived value is reproducible in any engine — the
DuckDB oracles in queries/ext_text.py mirror these expressions exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from world_cup_duckdb_spark.functions.strings import sql_string

#: Tiny per-language stopword inventories for the n-gram/stopword
#: language-ID heuristic. Deliberately small and fixed: the operator's
#: job is the *shape* (tokenize → per-language evidence → argmax), the
#: lists are a tunable.
STOPWORDS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "les", "et", "en"),
}

_LANG_ORDER = ("en", "es", "de", "fr")


def tokens_sql(col: str) -> str:
    """Whitespace tokenization of column ``col`` as a SQL fragment: a
    single-space split, the one tokenization every oracle mirrors."""
    return f"split(`{col}`, ' ')"


def tokens(col: str) -> Column:
    """Whitespace tokenization as an array column."""
    return F.expr(tokens_sql(col))


def stopword_count(toks: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (JVM higher-order
    filter — no explode, no shuffle)."""
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def predict_lang(scores: dict[str, Column]) -> Column:
    """Argmax over per-language stopword evidence, ties resolved in
    _LANG_ORDER priority; no evidence → 'und' (undetermined)."""
    en, es, de, fr = (scores[lang] for lang in _LANG_ORDER)
    return (
        F.when((en >= es) & (en >= de) & (en >= fr) & (en > 0), "en")
        .when((es >= de) & (es >= fr) & (es > 0), "es")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("und")
    )


def stage_token_counts(df, keep, langs=_LANG_ORDER, text_col="text", keep_text=False):
    """Two-Project staging that evaluates ``split(text)`` exactly once.

    Higher-order array functions are excluded from codegen subexpression
    elimination (SPARK-35410: lambda variables), so an expression tree
    referencing ``size(filter(split(text), ...))`` k times re-splits the
    document k times. CollapseProject's cost rule (SPARK-36718) keeps a
    producer Project separate when a non-cheap producer expression is
    referenced more than once by its consumer — so projecting the split,
    and then each per-language counter, as named columns pins single
    evaluation per row while remaining one codegen stage (no shuffle).

    Returns ``df`` projected to ``keep`` columns (plus ``text_col`` when
    ``keep_text``) with ``n_tokens`` and one ``<lang>_n`` stopword
    counter per requested language.
    """
    # SQL-string projections (r13): one py4j round trip per stage instead
    # of a Column/lambda builder call per node — the minhash_signatures
    # r12 rationale; this helper sits inside a dozen bench query builds,
    # paid in every rep. The counters transcribe stopword_count():
    # size(filter(toks, t IN stopwords)). Identifiers are backtick-quoted
    # (ADVICE r12).
    cols = [*keep, text_col] if keep_text else list(keep)
    quoted = [f"`{c}`" for c in cols]
    staged = df.selectExpr(*quoted, f"{tokens_sql(text_col)} AS __toks")
    return staged.selectExpr(
        *quoted,
        "size(__toks) AS n_tokens",
        *[
            "size(filter(__toks, t -> t IN ({w}))) AS `{lang}_n`".format(
                w=", ".join(map(sql_string, STOPWORDS[lang])), lang=lang
            )
            for lang in langs
        ],
    )


def counter_scores(langs=_LANG_ORDER) -> dict[str, Column]:
    """Language-score dict over stage_token_counts' counter columns —
    plain attribute references, cheap to re-reference in argmax chains."""
    return {lang: F.col(f"{lang}_n") for lang in langs}


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Sliding ``n``-word shingles as an array of strings; empty when the
    document has fewer than ``n`` tokens (guard needed: Spark's sequence()
    runs *descending* for start>stop, unlike DuckDB's range())."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct character ``n``-grams of a document."""
    text = F.col(text) if isinstance(text, str) else text
    return F.when(
        F.length(text) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(text) - (n - 1)),
                lambda i: F.substring(text, i, n),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_initial_repr(word: Column | str) -> Column:
    """Initial BPE symbol representation of a word: each character wrapped
    in ``|`` delimiters (``'abc'`` → ``'|a||b||c|'``). Per-symbol wrapping
    (not shared boundaries) is what makes one ``replace()`` pass apply a
    merge rule greedily left-to-right with correct overlap semantics:
    ``'|a||a||a||a|'`` replacing ``'|a||a|'`` → ``'|aa||aa|'`` — both Spark
    and DuckDB ``replace`` scan left-to-right non-overlapping, so the
    engines agree bit-for-bit."""
    word = F.col(word) if isinstance(word, str) else word
    return F.concat(F.lit("|"), F.array_join(F.split(word, ""), "||"), F.lit("|"))


def bpe_symbols(repr_col: Column | str) -> Column:
    """Symbol array of a wrapped representation (strip outer pipes, split
    on the ``||`` inter-symbol boundary)."""
    repr_col = F.col(repr_col) if isinstance(repr_col, str) else repr_col
    return F.split(
        F.substring(repr_col, 2, F.length(repr_col) - 2), "\\|\\|"
    )


def bpe_pair_counts(words: "DataFrame") -> "DataFrame":
    """Adjacent-symbol pair frequencies over a (word, freq, repr) vocab
    relation — one explode + one hash aggregation over the VOCABULARY
    (not the corpus), which is the Sennrich BPE trainer's scale property:
    corpus-sized work happens once (vocab build); every merge iteration
    touches only distinct words weighted by frequency."""
    return (
        words.select("freq", bpe_symbols("repr").alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    "          i -> struct(l[i] AS a, l[i+1] AS b))"
                )
            ).alias("pr"),
        )
        .groupBy("pr.a", "pr.b")
        .agg(F.sum("freq").cast("long").alias("pf"))
    )


def bpe_apply_merge(words: "DataFrame", a: str, b: str) -> "DataFrame":
    """Apply one merge rule (a, b) → ab to every word representation —
    a map-only string replace, no shuffle."""
    return words.withColumn(
        "repr",
        F.replace(F.col("repr"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
    )


def bpe_learn_merges(
    words: "DataFrame",
    n_merges: int,
    candidate_pool: int = 256,
    exact: bool = True,
    repersist_every: int = 64,
    persist_fn=None,
    allow_exhaustion: bool = False,
) -> tuple[list[tuple[int, str, str, str, int]], "DataFrame"]:
    """Learn ``n_merges`` BPE rules with BATCHED merge discovery.

    The sequential algorithm takes one driver barrier (a pair-count
    aggregation reduced to an argmax row) PER MERGE — fine for a toy
    vocabulary, but a production tokenizer learns ~30k rules, and 30k
    sequential Spark jobs is the bottleneck regardless of per-pass cost.
    Here each pass collects the top ``candidate_pool`` pairs and accepts
    several mutually non-conflicting merges at once.

    Two modes:

    - ``exact=True`` (default): accept only a PREFIX of provably-
      sequential picks — output is IDENTICAL to the sequential trainer,
      rule for rule (the registry queries and their DuckDB oracles use
      this mode). On natural text the strict soundness cap below limits
      the batch (top pairs share characters heavily), so the pass count
      shrinks only modestly — exactness is the point here, not speed.
    - ``exact=False``: accept EVERY mutually symbol-disjoint,
      fresh-token pick in the pool page — the standard production
      approximation (the same greedy-disjoint batching trick fast
      tokenizer trainers use). Passes ≈ n_merges / batch; the learned
      rules can deviate from sequential order when a created pair would
      have overtaken a later pick, which real trainers accept. This is
      the mode that makes ~30k-rule vocabularies feasible
      (pytest-evidenced pass-count + quality bounds, no SQL oracle —
      the deviation is documented, not hidden).

    Both modes RE-MATERIALIZE the vocabulary every ``repersist_every``
    applied merges: each merge appends a string ``replace`` to the plan,
    and an unbounded chain (30k nested replaces) blows up optimizer and
    codegen time quadratically; periodic persist+count resets the chain
    while keeping everything distributed.

    Soundness of exact mode (batched == sequential, exactly — pinned by
    tests/test_llm_ops.py parity):

    - The head pick is the global (pf DESC, a, b) argmax — always
      sequential-exact.
    - A further candidate is ACCEPTED only when (1) its symbols are
      disjoint from every earlier pick's symbols and merged token
      (merging (a,b) only changes counts of pairs touching a or b),
      (2) its merged token is a FRESH symbol — not in the pre-pass
      alphabet, not another pick's merged token (a collision would
      INFLATE existing pairs' counts, breaking the pre-count bounds
      below), and (3) its frequency strictly exceeds ``cap``.
    - ``cap`` upper-bounds everything the accepted picks could be
      racing against after earlier merges apply: the pre-merge count of
      every REJECTED collected pair (counts of non-fresh-colliding
      pairs only decrease), every pair BELOW the collected pool (its
      (pf, a, b) rank is behind the last collected row), and every pair
      CREATED by an accepted merge (each occurrence of a new pair
      (x, ab) consumes a pre-merge boundary pair (x, a) — a rejected or
      unseen conflict, hence ≤ cap). Strict ``pf > cap`` therefore
      makes each accepted pick the unique sequential argmax at its
      turn, ties included.
    - If the head pick's own merged token collides with an existing
      symbol (legal in BPE — the counts just fold together), the batch
      degenerates to that single merge and the next pass recounts.

    Worst case (flat count plateaus, pathological symbol overlap) every
    pass accepts one merge — never slower than sequential in passes,
    and each pass is the same single aggregation.

    The alphabet is tracked driver-side: seeded once from the distinct
    symbols of the initial representations (one vocab-sized distinct),
    then extended with each learned merge token. Symbols that vanish
    from the vocabulary stay in the set — conservative (may defer a
    pick to the next pass), never unsound.

    Returns (merges, words) where merges is a list of
    (rank, lhs, rhs, merged, pair_freq) and words has all rules applied.
    When re-materialization triggered, the returned relation reads from
    an internal persisted checkpoint. ``persist_fn`` controls that
    checkpoint's lifecycle: pass a scoped helper (the registry queries
    pass ``tracked_persist``, releasing it on the next query's entry);
    the default is a bare ``DataFrame.persist`` — then unpersist via
    ``spark.catalog.clearCache()`` once the result is consumed.
    """
    symbols = {
        r["s"]
        for r in words.select(
            F.explode(bpe_symbols("repr")).alias("s")
        )
        .distinct()
        .collect()
    }
    merges: list[tuple[int, str, str, str, int]] = []
    our_cache: "DataFrame | None" = None
    unmaterialized = 0
    while len(merges) < n_merges:
        rows = (
            bpe_pair_counts(words)
            .orderBy(F.desc("pf"), "a", "b")
            .limit(candidate_pool)
            .collect()
        )
        if not rows:
            # Vocabulary fully merged before the budget was spent. The
            # oracled fixed-N entries keep the hard failure (their
            # unrolled SQL twins assume exactly N rules exist); the
            # production scaled entry passes allow_exhaustion=True and
            # gets the learned prefix — a smaller corpus or scale factor
            # simply yields a shorter rule table (ADVICE r6).
            if allow_exhaustion:
                break
            raise ValueError(
                f"BPE merge {len(merges) + 1}: corpus vocabulary has no "
                "adjacent symbol pairs left to merge"
            )
        # Anything not collected ranks behind the last collected row
        # (a short page means the pool saw EVERY pair: no unseen bound).
        unseen_cap = rows[-1].pf if len(rows) == candidate_pool else 0
        head = rows[0]
        batch = [head]
        if exact and head.a + head.b in symbols:
            # Collision merge: counts of pairs touching the pre-existing
            # symbol may INCREASE, so no pre-count bound survives —
            # sequential-equivalence holds only for this single merge.
            accepted, cap = [], 0
        else:
            used = {head.a, head.b, head.a + head.b}
            accepted = []
            cap = unseen_cap
            for r in rows[1:]:
                fresh = r.a + r.b
                if (
                    r.a in used
                    or r.b in used
                    or fresh in used
                    or fresh in symbols
                ):
                    cap = max(cap, r.pf)
                else:
                    accepted.append(r)
                    used.update((r.a, r.b, fresh))
        if exact:
            # Keep the provably-sequential prefix: a pick survives only
            # while its pf strictly exceeds everything it could be
            # racing against after earlier merges apply — rejected and
            # unseen pairs (cap), PLUS the self-pair bound: merging a
            # SELF-pick (t, t) creates (tt, tt) pairs whose pre-merge
            # boundary pair is the pick ITSELF (neither rejected nor
            # unseen), so each accepted self-pick folds its own pf into
            # the running cap. pf is descending, so the scan below is a
            # prefix; trimmed picks never beat a survivor even if
            # counted into cap themselves.
            cap_now = cap
            if head.a == head.b:
                cap_now = max(cap_now, head.pf)
            for r in accepted:
                if r.pf <= cap_now:
                    break
                batch.append(r)
                if r.a == r.b:
                    cap_now = max(cap_now, r.pf)
        else:
            batch += accepted
        batch = batch[: n_merges - len(merges)]
        for r in batch:
            merges.append((len(merges) + 1, r.a, r.b, r.a + r.b, r.pf))
            symbols.add(r.a + r.b)
            words = bpe_apply_merge(words, r.a, r.b)
        unmaterialized += len(batch)
        if unmaterialized >= repersist_every and len(merges) < n_merges:
            # Reset the replace chain: persist + materialize, then drop
            # OUR previous checkpoint (never the caller's input cache).
            words = (persist_fn or (lambda df: df.persist()))(words)
            words.count()
            if our_cache is not None:
                our_cache.unpersist()
            our_cache = words
            unmaterialized = 0
    return merges, words


def bpe_learn_merges_sequential(
    words: "DataFrame", n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], "DataFrame"]:
    """Reference one-merge-per-pass BPE trainer (Sennrich et al. 2016):
    each iteration is one pair-count aggregation reduced to a single
    argmax row, then a map-only replace. Kept as the parity baseline for
    :func:`bpe_learn_merges` — use the batched form for real vocabulary
    sizes (this one takes one driver barrier per merge)."""
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            bpe_pair_counts(words)
            .orderBy(F.desc("pf"), "a", "b")
            .limit(1)
            .first()
        )
        if top is None:
            raise ValueError(
                f"BPE merge {rank}: corpus vocabulary has no adjacent "
                "symbol pairs left to merge"
            )
        merges.append((rank, top.a, top.b, top.a + top.b, top.pf))
        words = bpe_apply_merge(words, top.a, top.b)
    return merges, words


def fingerprint_from_shingles(sh: Column, seed: int) -> Column:
    """Seeded min-of-md5 fingerprint over an already-materialized shingle
    array — stage the shingles once (stage_token_counts rationale) when
    computing several seeds over the same document."""
    return F.array_min(
        F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
    )


# -- Compression-ratio quality signal (Python path; pytest-evidenced) ----
#
# deflate(text)/len(text) is the classic corpus-filter proxy the pure-SQL
# signals can't express: near-duplicate boilerplate and keyboard-mash both
# hide from stopword/length ratios but sit at the two ends of the
# compression spectrum (repetition compresses too well, noise not at all).
# zlib is deterministic for a fixed (level, strategy) across platforms, so
# the score is reproducible — but it is NOT SQL-expressible, so this
# operator carries pytest invariants instead of a DuckDB oracle (the same
# evidence class as the stateful streaming twins).

#: Band accepted by compression_quality_filter: below LO the text is
#: repetitive boilerplate, above HI it is noise. HI is calibrated for
#: PRINTABLE text: ~90 distinct symbols carry at most ~6.5 bits per
#: 8-bit byte, so even perfectly random printable text deflates to
#: ~0.82 — 0.80 is the practical "no linguistic structure" line
#: (the sf0.01 fixture corpus spans 0.40-1.02, median 0.51).
COMPRESSION_LO = 0.25
COMPRESSION_HI = 0.80


def compression_ratio(docs: "DataFrame", text_col: str = "text") -> "DataFrame":
    """Per-document deflate ratio via Arrow-batched mapInPandas (zlib
    level 6): adds double `compress_ratio` = len(zlib(text))/len(text)
    (1.0 for empty text — nothing to compress, nothing repetitive).

    Scale: map-only — no shuffle, no state; the Python cost is one
    C-implemented deflate per document over Arrow batches, the same
    batch shape as the multimodal codecs. Partition count follows the
    input splits."""
    import zlib

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        docs.schema.fields + [StructField("compress_ratio", DoubleType())]
    )

    def batches(it):
        for pdf in it:
            texts = pdf[text_col].fillna("")
            pdf = pdf.copy()
            pdf["compress_ratio"] = [
                (len(zlib.compress(t.encode("utf-8"), 6)) / n)
                if (n := len(t.encode("utf-8"))) > 0
                else 1.0
                for t in texts
            ]
            yield pdf

    return docs.mapInPandas(batches, out_schema)


def compression_quality_filter(
    docs: "DataFrame",
    text_col: str = "text",
    lo: float = COMPRESSION_LO,
    hi: float = COMPRESSION_HI,
) -> "DataFrame":
    """Keep documents whose deflate ratio sits in the [lo, hi] band —
    drops near-duplicate boilerplate (over-compressible) and
    noise/binary-garbage (incompressible) in one map-only pass."""
    scored = compression_ratio(docs, text_col)
    return scored.filter(
        (F.col("compress_ratio") >= lo) & (F.col("compress_ratio") <= hi)
    )


def canonical_url(url: Column | str) -> Column:
    """Canonicalize a raw URL for crawl-side dedup (ext_url_dedup):
    force https, lowercase the host and strip a leading ``www.``, drop
    the fragment, strip a trailing slash from the path, remove ``utm_*``
    tracking params and sort the survivors. Pure built-in string algebra
    (regexp parts + a filtered/sorted param list) — map-side at any
    scale, no UDF.

    Idempotent by construction (canonical output re-parses to itself) —
    property-tested in tests/test_properties.py, with invariance under
    scheme/host case, trailing slash, utm params, param order, and
    fragments."""
    url = F.col(url) if isinstance(url, str) else url
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), r"/$", ""
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(url, r"\?([^#]*)", 1), "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(cq == "", F.lit("")).otherwise(F.concat(F.lit("?"), cq)),
    )
