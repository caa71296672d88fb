"""Text primitives shared by the dedup / text-analysis operators.

All JVM-side expressions (no Python UDFs): tokenization is ``split`` on
whitespace, shingling is a ``transform`` over an index ``sequence``, and the
portable 60-bit hash is an md5-prefix — chosen because md5 produces identical
hex across engines, which keeps MinHash/SimHash signatures oracle-comparable
(and deterministic across cluster re-runs, unlike seed-per-JVM hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Guarded small-scan parallelization (see sources.registry.spread_scan);
    imported lazily to keep operators importable without the sources pkg."""
    from airflow_cms_inpatient_etl_spark.sources.registry import spread_scan

    return spread_scan(df, id_col)


def words(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles(words_col: Column, k: int = 3) -> Column:
    """Word k-gram shingles: ['a','b','c','d'] → ['a b c', 'b c d'].

    Shingles (not unigrams) are the dedup unit: with a small vocabulary,
    unigram posting lists are dense and the candidate join goes quadratic;
    k-gram shingles keep document-frequency near 1 so the inverted-index
    self-join stays linear in corpus size.
    """
    n = F.size(words_col) - (k - 1)
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.element_at(words_col, i + j) for j in range(k)]),
    )
    # sequence(1, 0) would run backwards in Spark — guard short documents
    return F.when(n >= 1, arr).otherwise(F.array().cast("array<string>"))


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) rows, one per *distinct* shingle per document.

    The words array is materialized in its own projection first: Catalyst does
    not eliminate common subexpressions inside higher-order-function lambdas,
    so inlining ``split()`` would re-run the regex per ``element_at`` (measured
    ~10× slower).  The scan is spread across cores first when its parallelism
    is degenerate (single-file fixture) — a guarded no-op on a parallel
    production scan (``sources.registry.spread_scan``; measured 1.6× on the
    MinHash pipeline at sf0.1 under local[32]).
    """
    tokenized = _spread(
        df.select(F.col(id_col), words(F.col(text_col)).alias("__words")), id_col
    )
    return (
        tokenized.select(F.col(id_col), F.explode(shingles(F.col("__words"), k)).alias("shingle"))
        .distinct()
    )


def hash60(col: Column, seed: str = "") -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5(seed || value).

    Engine-portable (md5 is bit-identical everywhere) and collision-safe enough
    for MinHash permutations (2^60 space).
    """
    prefixed = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(prefixed), 1, 15), 16, 10).cast("long")


def exploded_shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, h) rows: one 60-bit hash per distinct shingle per document.

    Hashing before the distinct/shuffle is the scale move: posting lists carry
    8-byte ints instead of ~50-byte shingle strings, and every downstream
    consumer (Jaccard join, MinHash permutations, SimHash bit votes) works on
    the int.  At 2^60 hash space, collisions are ~|shingles|²/2^61 — nil even
    at 100 TB corpus scale — and the md5-based hash is engine-portable, so
    results stay oracle-exact.
    """
    tokenized = _spread(
        df.select(F.col(id_col), words(F.col(text_col)).alias("__words")), id_col
    )
    return (
        tokenized.select(F.col(id_col), F.explode(shingles(F.col("__words"), k)).alias("shingle"))
        .select(F.col(id_col), hash60(F.col("shingle")).alias("h"))
        .distinct()
    )


def normalized_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-collapsed lowercased text —
    the exact-dedup key that survives formatting noise."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def mixed_language_chunk_flags(
    docs: DataFrame,
    lexicons: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 40,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mixed-language / code-switching gate (PURE operator — no fixture
    signal planting; tests and bench queries plant synthetic code-switching
    in their own layer before calling this).

    Classifies each non-overlapping ``chunk_tokens``-token window with a
    stopword-lexicon argmax (tie order = ``lexicons`` insertion order, 'und'
    when no lexicon hits), then emits per document: chunk count, number of
    distinct identified (non-'und') chunk languages, the dominant chunk
    language (count argmax, lexicographically-last tiebreak) and the mixed
    flag (>= 2 identified languages).  ``carry_cols`` are grouping
    passthrough columns constant per document (e.g. an audit flag).

    Plan: tokenize + chunk-explode + per-chunk classification in ONE
    map-side projection over the (spread) scan — the lexicon intersects are
    JVM array ops on <= chunk_tokens-element arrays; then two aggregations
    keyed by (id, chunk_lang) and id with map-side partial combine; the
    dominance argmax folds as max(struct(n, lang)) inside the aggregate, so
    no window over corpus-sized input exists anywhere, and the token
    payload never enters an exchange.
    """
    langs = list(lexicons)
    w = words(F.col(text_col))
    carry = [F.col(c) for c in carry_cols]
    chunks = _spread(docs.select(id_col, *carry_cols, F.col(text_col)), id_col).select(
        F.col(id_col),
        *carry,
        F.explode(F.sequence(F.lit(0), F.size(w) - 1, F.lit(chunk_tokens))).alias(
            "start_tok"
        ),
        w.alias("__w"),
    ).select(
        F.col(id_col),
        *carry,
        F.array_distinct(
            F.slice(F.col("__w"), F.col("start_tok") + 1, chunk_tokens)
        ).alias("__cd"),
    )
    hits = {
        lang: F.size(F.array_intersect(F.col("__cd"), F.array(*[F.lit(t) for t in lex])))
        for lang, lex in lexicons.items()
    }
    total = sum(list(hits.values())[1:], start=hits[langs[0]])
    expr = F.when(total == 0, "und")
    for i, lang in enumerate(langs[:-1]):
        rest = [hits[l] for l in langs[i + 1 :]]
        expr = expr.when(hits[lang] >= F.greatest(*rest) if len(rest) > 1 else hits[lang] >= rest[0], lang)
    chunk_lang = expr.otherwise(langs[-1])
    per_lang = (
        chunks.select(F.col(id_col), *carry, chunk_lang.alias("chunk_lang"))
        .groupBy(id_col, *carry_cols, "chunk_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_lang.groupBy(id_col, *carry_cols)
        .agg(
            F.sum("n").alias("n_chunks"),
            F.count_if(F.col("chunk_lang") != "und").alias("n_langs"),
            F.max(F.struct(F.col("n"), F.col("chunk_lang"))).alias("__m"),
        )
        .select(
            F.col(id_col),
            *carry,
            F.col("n_chunks"),
            F.col("n_langs"),
            F.col("__m.chunk_lang").alias("dominant_chunk_lang"),
            (F.col("n_langs") >= 2).alias("is_mixed"),
        )
    )


def bpe_train(
    words: DataFrame,
    n_merges: int,
    resnapshot_every: int = 64,
    merge_seconds: list[float] | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """Full iterative BPE tokenizer-training loop (Sennrich et al. ACL'16
    learn_bpe shape — the reference's single training step
    ``bpe_merge_candidates`` iterated to a merge budget / target vocab):
    repeat ``n_merges`` times {census adjacent token pairs weighted by word
    frequency → greedy-merge the argmax pair (count desc, lexicographic
    pair-string tiebreak) across the whole vocabulary}.  Returns the merge
    table ``[(rank, left, right, merged, pair_count)]`` — target-vocab
    training is the same loop with ``n_merges = target_vocab - n_chars``.

    ``words``: (seq, freq) rows — one per DISTINCT corpus word — where
    ``seq`` boundary-encodes the word's current token sequence as
    ``' tok;'`` per token (leading space, trailing ';').  That encoding is
    what makes merge application a PLAIN string replace with exact greedy
    left-to-right semantics: the pattern ``' l; r;'`` consumes only its own
    tokens' boundaries (each token carries its trailing ';'), so the NEXT
    pair's leading space survives and runs of repeated tokens merge as
    [aa, aa], not [aa, a, a] — matching the reference implementation's
    lookaround-regex behavior while staying expressible as ``replace`` in
    any engine (no lookbehind, which columnar engines' regex libs lack).
    Callers must restrict tokens to characters excluding ' ' and ';'
    (standard pre-tokenization does).

    Scale: the census runs over the DISTINCT-word table with frequencies —
    vocabulary-sized, corpus-size-independent (the one corpus-sized pass is
    the word count the caller did to build ``words``).  Each iteration is
    one vocab-sized map + one pair-keyed shuffle with map-side partial
    combine + a single-row driver argmax; merge application folds a pure
    ``replace`` map onto the snapshot lineage (no new exchange).  That
    lineage DOES grow — the census at merge k replays every ``replace``
    appended since the last snapshot — so ``cur`` is re-snapshot (eager
    localCheckpoint, previous blocks released) every ``resnapshot_every``
    merges, bounding per-census replay to O(resnapshot_every) and total
    transform work to O(n_merges * resnapshot_every) instead of the
    O(n_merges**2) a single up-front snapshot gives at a production 32k
    merge budget.  Driver state is the merge table itself — ``n_merges``
    rows — so the loop distributes to any corpus whose VOCABULARY fits a
    shuffle, which is every corpus.

    ``merge_seconds``: optional canary instrumentation — when a list is
    passed, per-merge wall seconds are appended to it (used by the scale
    canary asserting the per-merge cost stays flat across the budget).
    """
    import time as _time

    from airflow_cms_inpatient_etl_spark.sources.registry import (
        release_snapshots,
        tracked_localcheckpoint,
    )

    spark = words.sparkSession
    # scanned n_merges times — materialize once; keep the release handle so
    # periodic re-snapshots can free the superseded blocks mid-loop
    cur, cur_ids = tracked_localcheckpoint(words, eager=False)
    pair_arr = F.expr(
        "transform(sequence(1, size(__t) - 1),"
        " i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))"
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        t0 = _time.perf_counter()
        toks = cur.select(
            F.split(F.expr("trim(TRAILING ';' FROM substring(seq, 2))"), "; ").alias("__t"),
            "freq",
        )
        pairs = toks.select(
            F.explode(
                F.when(F.size("__t") >= 2, pair_arr).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, n = best[0]["pair"], int(best[0]["n"])
        left, right = pair.split(" ")
        merges.append((rank, left, right, left + right, n))
        cur = cur.withColumn(
            "seq",
            F.replace(F.col("seq"), F.lit(f" {left}; {right};"), F.lit(f" {left}{right};")),
        )
        if rank % resnapshot_every == 0 and rank < n_merges:
            # EAGER so the new blocks exist before the superseded snapshot
            # (which has no recompute lineage) is released out from under it
            cur, new_ids = tracked_localcheckpoint(cur, eager=True)
            release_snapshots(spark, ids=cur_ids)
            cur_ids = new_ids
        if merge_seconds is not None:
            merge_seconds.append(_time.perf_counter() - t0)
    return merges


def unigram_viterbi_segment(words: DataFrame, max_piece_len: int = 4) -> DataFrame:
    """SentencePiece-style UNIGRAM Viterbi segmentation (Kudo, ACL'18) with an
    integer-deterministic objective — the tokenizer family's inference-side
    sibling of ``bpe_train``/``bpe_apply_encode``: segment every distinct
    corpus word into vocabulary pieces by exact dynamic programming over the
    word's character positions.

    The piece vocabulary is every substring of length 1..``max_piece_len``
    of the corpus words, scored by occurrence mass (Σ word_freq over
    occurrences); single characters are always present, so every word is
    segmentable (SentencePiece's character-coverage guarantee).  The real
    unigram LM maximizes Σ log p(piece) — float-summation territory — so the
    objective here is the integer-deterministic proxy: MINIMIZE piece count,
    then MAXIMIZE total piece score, then lexicographically-least
    segmentation string.  The key is additive/prefix-decomposable, so
    Bellman optimality holds and the DP cell can carry (np, score, parts)
    directly — same "integers instead of floats in oracle-checked
    aggregates" discipline as the caption/transcript gates.

    Scale: the census behind ``words`` is the only corpus-sized pass; the
    piece explode is vocab-sized × ≤ L·max_piece_len, the score join is
    piece-keyed, and the whole DP is ONE map-side higher-order ``aggregate``
    over the per-word edge list — no per-row Python, no iteration shuffles
    (the loop is over character positions inside the row, not over the
    table).  Output: (w, freq, n_pieces, piece_score, segmentation).
    """
    occ = words.select(
        "w",
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(filter(sequence(1, {max_piece_len}),"
                f" l -> l <= length(w)),"
                f" l -> transform(sequence(1, length(w) - l + 1),"
                f" j -> named_struct('b', j - 1, 'i', j - 1 + l,"
                f" 'p', substring(w, j, l)))))"
            )
        ).alias("o"),
    ).select("w", "freq", "o.b", "o.i", "o.p")
    scores = occ.groupBy("p").agg(F.sum("freq").cast("long").alias("s"))
    edges = (
        occ.join(scores, "p")
        .groupBy("w", "freq")
        .agg(F.collect_list(F.struct("b", "i", "p", "s")).alias("__edges"))
    )
    # DP cell: (np, sc, parts).  Candidate c from edge e extends cell e.b;
    # better(c, best) = np ASC, then sc DESC, then parts ASC.  The candidate
    # expression is repeated inside the comparison (SQL lambdas cannot bind
    # locals); the subtrees are identical, which runtime CSE handles.
    cand = (
        "named_struct("
        "'np', element_at(acc, e.b + 1).np + 1, "
        "'sc', element_at(acc, e.b + 1).sc + e.s, "
        "'parts', CASE WHEN element_at(acc, e.b + 1).parts = '' THEN e.p "
        "ELSE concat(element_at(acc, e.b + 1).parts, ' ', e.p) END)"
    )
    dp = F.expr(
        f"""
        element_at(
          aggregate(
            sequence(1, length(w)),
            array(named_struct('np', 0, 'sc', cast(0 as bigint), 'parts', '')),
            (acc, i) -> array_append(acc,
              aggregate(
                filter(__edges, e -> e.i = i),
                named_struct('np', 2147483647,
                             'sc', cast(-1 as bigint), 'parts', ''),
                (best, e) -> CASE
                  WHEN {cand}.np < best.np
                    OR ({cand}.np = best.np AND {cand}.sc > best.sc)
                    OR ({cand}.np = best.np AND {cand}.sc = best.sc
                        AND {cand}.parts < best.parts)
                  THEN {cand} ELSE best END
              )
            )
          ),
          length(w) + 1
        )
        """
    )
    return edges.select(
        "w",
        "freq",
        dp.alias("__dp"),
    ).select(
        "w",
        "freq",
        F.col("__dp.np").cast("long").alias("n_pieces"),
        F.col("__dp.sc").alias("piece_score"),
        F.col("__dp.parts").alias("segmentation"),
    )


def packed_first_writer_key(
    id_col: str,
    idx_col: str,
    label: str,
    id_bits: int = 43,
    idx_bits: int = 20,
) -> Column:
    """``(id << idx_bits) | idx`` as ONE long — lexicographic-equivalent to
    the struct ``(id, idx)`` while keeping a first-writer MIN a HashAggregate
    (min over struct falls back to SortAggregate, an O(n log n) per-partition
    sort of the full stream).  Out-of-domain inputs raise loudly instead of
    silently mis-ranking writers (the winnowing position-packing doctrine);
    the single definition is shared by ``rag_chunk_sliding`` and its guard
    test so the bit widths cannot drift apart (round-12 ADVICE)."""
    return F.when(
        (F.col(idx_col) >= 0)
        & (F.col(idx_col) < F.lit(1 << idx_bits))
        & (F.col(id_col) >= 0)
        & (F.col(id_col) < F.lit(1 << id_bits)),
        F.shiftleft(F.col(id_col), idx_bits) + F.col(idx_col),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"{label}: ({id_col}, {idx_col}) outside packing "
                    f"domain [0,2^{id_bits}) x [0,2^{idx_bits}): "
                ),
                F.col(id_col).cast("string"),
                F.lit(","),
                F.col(idx_col).cast("string"),
            )
        )
    )


def token_counts_ws(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, ntok)`` whitespace-token counts with the canonical
    ``[ \\t\\r\\n]+`` normalization — the one definition shared by the
    packing operators (``pack_concat_chunks`` / ``pack_shelf_bins``) and
    mirrored by ``sliding_chunks``' tokenizer, so the token accounting
    cannot drift between the layout stages.  Null/blank documents are
    dropped (they carry no tokens to place).  Pure map-side projection —
    the text dies in the same stage that counts it."""
    norm = F.trim(F.regexp_replace(F.col(text_col), "[ \t\r\n]+", " "))
    return df.filter(F.col(text_col).isNotNull() & (norm != "")).select(
        F.col(id_col),
        F.size(F.split(norm, " ")).cast("long").alias("ntok"),
    )


def sliding_chunks(
    df: DataFrame, id_col: str, text_col: str, width: int = 32, stride: int = 16
) -> DataFrame:
    """Sliding-window RAG chunks: ``(id, chunk_idx, chunk_ntok, chunk_hash)``,
    one row per ``width``-token window at ``stride``-token steps (last window
    truncated; a document shorter than one window yields exactly one chunk).

    Everything is a map-side HOF over the document scan — tokenize, slice,
    join, md5 — and the chunk TEXT is dropped in the same projection that
    hashes it, so downstream consumers (dedup, embedding cost accounting,
    the incremental-index gate) shuffle only ~56-byte rows.  Whitespace
    class is the explicit ``[ \\t\\r\\n]+`` so the DuckDB oracle's RE2 and
    Java's regex agree byte-for-byte."""
    norm = F.trim(F.regexp_replace(F.col(text_col), "[ \t\r\n]+", " "))
    toks = df.filter(F.col(text_col).isNotNull() & (norm != "")).select(
        F.col(id_col), F.split(norm, " ").alias("_toks")
    )
    sized = toks.select(
        id_col,
        "_toks",
        F.size("_toks").alias("_ntok"),
        F.when(F.size("_toks") <= width, F.lit(1).cast("long"))
        .otherwise(F.ceil((F.size("_toks") - width) / F.lit(float(stride))) + 1)
        .alias("_n_chunks"),
    )
    return sized.select(
        id_col,
        "_ntok",
        "_toks",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    ).select(
        id_col,
        "chunk_idx",
        F.least(F.col("_ntok") - F.col("chunk_idx") * stride, F.lit(width)).alias(
            "chunk_ntok"
        ),
        F.md5(
            F.array_join(F.expr(f"slice(_toks, chunk_idx * {stride} + 1, {width})"), " ")
        ).alias("chunk_hash"),
    )
