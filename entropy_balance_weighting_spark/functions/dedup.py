"""Dedup building blocks kept as a library: connected components over a
pair graph, boilerplate-line and duplicated-span removal, a Bloom filter,
and the cross-table fuzzy Jaccard join.  No registered query uses them.

Cache lifetime: persists whose consumers are all internal are released
before return (see the ``unpersist`` calls after each
``localCheckpoint``); the rest (gram-key / candidate / token-set caches)
feed the RETURNED plan and are SESSION-LIFETIME by design — bounded
relations, MEMORY_AND_DISK, LRU-evictable under storage pressure, so
accumulation across a long driver session degrades to recompute, never
to OOM.  ``spark.catalog.clearCache()`` between calls gives
deterministic release when a caller needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al.): every node connects its
    LARGER neighbors to the minimum of its closed neighborhood.  Input is
    a strictly-oriented edge list ``(u, v)`` (any orientation); output is
    strictly oriented large→small."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node connects its SMALLER neighbors
    (and itself) to the minimum of that set.  Input must be oriented
    large→small (``u > v``), which :func:`_large_star` guarantees."""
    mn = e.groupBy("u").agg(F.min("v").alias("mn"))
    e1 = (
        e.join(mn, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    e2 = mn.select("u", F.col("mn").alias("v"))
    return e1.unionByName(e2).distinct()


def star_components(
    pairs: DataFrame, *, max_rounds: int = 25
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public-domain algorithm).  Returns ``(labels, rounds_used)`` where
    labels is ``(id, cluster_id)`` with cluster_id = component min.

    Convergence is O(log²) rounds in the worst case (vs O(diameter) for
    plain min-label propagation): each round contracts edges toward the
    component minimum superlinearly, so a pathological near-dup CHAIN —
    diameter N — still closes in ~log N rounds.  Each round is two
    groupBy-mins and one join, all map-side-combinable, and the edge set
    only shrinks toward one-edge-per-node stars, so per-round shuffle
    volume is bounded by the input edge count.

    Per-round lineage is truncated with ``localCheckpoint``; the fixpoint
    test is an edge-multiset signature (count + endpoint sums + hash sum)
    — one scalar agg per round, no change-count join.  Both star
    operators are idempotent on a star fixpoint, so an unchanged
    signature means convergence.
    """
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(e: DataFrame):
        return tuple(
            e.agg(
                F.count(F.lit(1)),
                F.sum("u"),
                F.sum("v"),
                F.sum(F.hash("u", "v").cast("long")),
            ).collect()[0]
        )

    prev = _sig(edges)
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = _sig(edges)
        if cur == prev:
            break
        prev = cur

    roots = (
        edges.select(F.col("v").alias("id")).distinct().withColumn("lbl", F.col("id"))
    )
    labels = (
        edges.select(F.col("u").alias("id"), F.col("v").alias("lbl"))
        .unionByName(roots)
        .groupBy("id")
        .agg(F.min("lbl").alias("lbl"))
    )
    return labels.select("id", F.col("lbl").alias("cluster_id")), rounds


def connected_components(pairs: DataFrame, *, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected duplicate-pair edge list
    ``(id_a, id_b)`` → ``(id, cluster_id)`` — the dedup endgame: near-dup
    PAIRS become disjoint CLUSTERS, and min-id-per-cluster gives the
    canonical representative to keep.

    Implemented as alternating large-star/small-star
    (:func:`star_components`): O(log²) rounds worst-case, so both the
    realistic clique-of-cliques topology AND a pathological chain of
    near-dups converge in a handful of join+groupBy-min rounds.  The
    older O(diameter) min-label propagation is kept as
    :func:`label_propagation_components` (parity-tested against this
    one).
    """
    labels, _ = star_components(pairs, max_rounds=max_iter)
    return labels


def label_propagation_components(
    pairs: DataFrame, *, max_iter: int = 25
) -> DataFrame:
    """Min-label propagation connected components — O(component diameter)
    rounds; kept as the independent cross-check for
    :func:`star_components`.

    Every node repeatedly adopts the smallest label among itself and its
    neighbors; at fixpoint each component carries its smallest member id.
    Each round is one shuffle join (edges ⋈ labels on the src key) plus
    one groupBy-min, both map-side-combinable.

    Per-round lineage is truncated with ``localCheckpoint`` so the plan
    does not grow with iterations.  Convergence uses the monotone
    Σ-labels signal: labels only ever decrease, so an unchanged sum is a
    fixpoint — one scalar agg per round instead of a change-count join.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(max_iter):
        msgs = edges.join(labels.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "lbl"
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def doc_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_words: int | None = None,
) -> DataFrame:
    """Explode documents into ``(id, pos, line)`` rows.

    ``line_words=None`` splits on literal newlines (the web-corpus case);
    an integer segments the token stream into fixed ``line_words``-word
    lines instead (for corpora stored newline-free, like the synthetic
    testdata).  Pure column expressions either way — the segmentation is
    a ``transform(sequence(...))`` over the split array, no Python."""
    if line_words is None:
        arr = F.split(F.col(text_col), "\n")
    else:
        w = F.split(F.col(text_col), " ")
        n_seg = F.ceil(F.size(w) / F.lit(line_words)).cast("int")
        arr = F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(w, i * line_words + 1, line_words), " "
            ),
        )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(arr).alias("pos", "line")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_count: int = 2,
    line_words: int | None = None,
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb cleaning
    stage): a line occurring in ``>= min_doc_count`` DISTINCT documents
    is boilerplate (nav bars, cookie banners, footers) and is dropped
    from every document; the survivors are reassembled in original line
    order.  Returns ``(id, clean_text, n_lines, n_kept)`` — one row per
    input document, including documents whose every line was removed
    (``clean_text = ''``).

    Plan (100 TB shape): explode to lines once; the boilerplate set is a
    ``groupBy(line)`` with a map-side-combinable ``countDistinct`` and a
    HAVING filter, so only lines that actually repeat across documents
    survive the aggregate — orders of magnitude smaller than the corpus
    (AQE broadcasts it into the anti-join when it fits); reassembly is a
    ``sort_array(collect_list(struct(pos,line)))`` per document — a
    single hash aggregate, no window sort.  Joining on the full line
    string (not a hash) keeps the operator EXACT at any scale; swap the
    key for an md5 column if line lengths dominate the shuffle."""
    from pyspark.storagelevel import StorageLevel

    # "explode to lines once" needs a persist to be literally true: the
    # line table feeds the boilerplate aggregate, the anti-join probe AND
    # the per-doc totals — unpersisted, each consumer re-scanned and
    # re-exploded the corpus (3× per run; r13 optimization, guide
    # §2.4/§5.3, spikes/scan_multiplicity.py)
    lines = doc_lines(
        df, id_col=id_col, text_col=text_col, line_words=line_words
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hot = (
        lines.groupBy("line")
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") >= min_doc_count)
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    sep = "\n" if line_words is None else " "
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def duplicated_span_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_df: int = 2,
    max_gram_df: int | None = None,
    cache: bool = True,
    storage_level: "StorageLevel | None" = None,
) -> DataFrame:
    """Cross-document repeated-substring profile — the span-level exact
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed as a relational plan instead
    of a suffix array: a position-indexed k-token-gram table, gram
    document frequencies, and per-document coverage by grams that recur
    in ``>= min_df`` DISTINCT documents.

    Returns one row per document that contains at least one duplicated
    span: ``(id, n_tokens, n_dup_grams, n_covered, coverage)`` where
    ``n_dup_grams`` counts gram occurrences whose gram also appears in
    another document, ``n_covered`` counts distinct token positions
    covered by such grams (overlapping grams merge — this is exactly the
    "fraction of the doc that is memorized boilerplate" number used to
    decide span removal), and ``coverage = n_covered / n_tokens``.

    Plan (100 TB shape): one ``posexplode`` scan builds the gram table;
    document frequency is a single hash-groupBy on the 64-bit gram hash
    (``xxhash64`` — 8-byte shuffle key instead of the ~k-word string;
    a collision merges two grams with probability ~G²/2⁶⁴, negligible
    against the sampling noise of any corpus-level decision), with
    map-side partial aggregation; the duplicated-gram set joins back by
    the same hash (AQE broadcasts it when small); coverage explodes each
    surviving occurrence into its k covered positions — a k× fan-out on
    the DUPLICATED subset only, not the corpus.  No window functions, no
    self-join, no suffix array: the candidate volume is driven by real
    repetition, never N².

    ``max_gram_df`` is the skew defense at corpus scale: a gram occurring
    in more than this many documents (ubiquitous boilerplate) is counted
    toward ``n_dup_grams``/coverage semantics only up to the cap's
    group size — excluded entirely, like ``ngram_jaccard_pairs``'s
    ``max_shingle_df``, keeping the join-back volume bounded.  Leave
    ``None`` for exact semantics (the registered query's mode).

    **Memory ceiling (the r8 verdict's watch item)**: the gram table is
    ~corpus-tokens-sized (~44M rows at 1M docs) and feeds THREE
    consumers (the df pass, the dup-gram count, the coverage fan-out).
    ``cache=True`` (default) materializes it once — the cache is this
    operator's memory ceiling at corpus scale, spilling via
    MEMORY_AND_DISK; ``storage_level`` overrides the level (e.g.
    ``StorageLevel.DISK_ONLY`` to spare heap entirely while still
    scanning once).  ``cache=False`` is the fully-flat-memory recompute
    mode: nothing is persisted and the posexplode+hash scan re-runs per
    consumer — measured at 1M docs as 34.8 s cached vs 92.9 s recompute
    (2.7×, ``bench_substring_dedup_r09_n1m.json``), so prefer
    ``DISK_ONLY`` over ``cache=False`` unless even local disk is
    contended.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("t")
    )
    grams = (
        toks.filter(F.size("t") >= k)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - k),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, k)),
                )
            ).alias("pos", "g"),
        )
        .select("id", "pos", F.xxhash64("g").alias("gh"))
    )
    if cache:
        # default level = DataFrame.cache()'s (MEMORY_AND_DISK_DESER):
        # spills, never recomputes; pass DISK_ONLY etc. to spare heap
        grams = (
            grams.cache()
            if storage_level is None
            else grams.persist(storage_level)
        )
    dup_set = (
        grams.select("gh", "id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    if max_gram_df is not None:
        dup_set = dup_set.filter(F.col("df") <= max_gram_df)
    dup_occ = grams.join(dup_set.select("gh"), "gh")
    per_doc = dup_occ.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_grams")
    )
    cov = (
        dup_occ.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cp"),
        )
        .groupBy("id")
        .agg(F.countDistinct("cp").alias("n_covered"))
    )
    n_tok = toks.select("id", F.size("t").alias("n_tokens"))
    out = (
        per_doc.join(cov, "id")
        .join(n_tok, "id")
        .select(
            "id",
            "n_tokens",
            "n_dup_grams",
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_tokens"), 4).alias(
                "coverage"
            ),
        )
    )
    out = out.localCheckpoint(eager=True)
    if cache:
        grams.unpersist()
    return out


def bloom_build(
    df: DataFrame,
    *,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
    normalize: bool = True,
) -> DataFrame:
    """Build a portable Bloom filter over a corpus as a DataFrame of SET
    BIT POSITIONS — the membership sketch for incremental dedup at
    corpus scale.  A 100 TB historical corpus reduces to ``<= m_bits``
    rows ONCE; every later batch screens against the sketch with a
    broadcast join (:func:`bloom_check`) instead of an anti-join that
    rescans the archive.

    Hashing is engine-portable by construction: bit position ``i`` of a
    document is ``xxhash64(norm_text, seed=i) mod m_bits`` — all JVM
    expressions, no UDF; the build is one projection + explode +
    distinct (output bounded by ``m_bits``, never corpus-sized).

    Sizing: FPP ≈ (1 − e^(−k·n/m))^k; m_bits = 10·n with k = 5 gives
    ~0.9%.  The positions DataFrame persists like any table — write it
    with the corpus snapshot and union further increments (Bloom bits
    are mergeable by construction).
    """
    key = (
        F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    )
    pos = F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ]
    )
    return (
        df.select(F.explode(pos).alias("bit"))
        .distinct()
    )


def bloom_check(
    new_df: DataFrame,
    bits: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
    normalize: bool = True,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Screen a new batch against a :func:`bloom_build` sketch: returns
    ``(id, *carry_cols, might_exist)`` where ``might_exist = 1`` iff ALL ``k`` bit
    positions are set.  No false negatives (a true duplicate always
    flags); false positives at the sketch's FPP — route flagged docs to
    the exact verifier, pass the rest straight through.  ``m_bits``/
    ``k``/``normalize`` must match the build.

    Plan: the new batch explodes to ≤ k DISTINCT bit rows/doc in ONE
    pass, LEFT-joins the (≤ m_bits) position table — AQE broadcasts it
    when it fits — and a doc is flagged when every one of its distinct
    bits matched.  The archive is never touched, and neither is the new
    batch a second time: the doc's own distinct-bit count (two seeds can
    collide into one bit for short keys) rides the same exploded rows as
    a plain count, so the previous second ``new_df`` subtree (and the
    caller's join-back, via ``carry_cols``) is gone (r13 optimization,
    guide §2.4).  ``carry_cols`` names payload columns to carry through
    to the output — one output row per distinct ``(id, *carry_cols)``.
    """
    key = (
        F.lower(F.trim(F.col(text_col))) if normalize else F.col(text_col)
    )
    pos = F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ]
    )
    carry = list(carry_cols)
    exploded = new_df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry],
        F.explode(F.array_distinct(pos)).alias("bit"),
    )
    marked = exploded.join(
        bits.withColumn("__hit", F.lit(1)), "bit", "left"
    )
    return (
        marked.groupBy("id", *carry)
        .agg(
            F.count(F.lit(1)).alias("__n_own"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__n_hit"),
        )
        .select(
            "id",
            *carry,
            F.when(F.col("__n_hit") >= F.col("__n_own"), 1)
            .otherwise(0)
            .cast("long")
            .alias("might_exist"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    min_df: int = 2,
) -> DataFrame:
    """The REMOVAL action for :func:`duplicated_span_profile` — Lee et
    al. 2022's actual dedup step: excise every cross-document duplicated
    span (runs of ``>= k`` tokens occurring verbatim in ``>= min_df``
    distinct documents) while KEEPING one canonical copy.

    Keep rule (deterministic, oracle-checkable): for each duplicated
    k-gram the canonical holder is the LOWEST doc id containing it; a
    token position is excised iff some qualifying gram covering it
    belongs to a non-canonical document AND no qualifying gram covering
    it has this document as its canonical holder.  The second clause
    (canonical protection) makes the keep guarantee hold at the
    position level even when overlapping duplicated grams have
    DIFFERENT canonical holders: a document never loses a position
    inside a span it is canonical for, so every duplicated gram's full
    text survives verbatim in its canonical document.  Overlapping
    spans otherwise merge at the position level (the same semantics as
    the profile's ``n_covered``).

    Returns one row per input document:
    ``(id, n_tokens, n_removed_tokens, clean_text)`` — ``clean_text`` is
    the original token sequence with excised positions dropped (token
    order preserved; documents with nothing to excise pass through with
    their original text; a document whose every position is excised —
    e.g. an exact duplicate of a lower-id document — still emits its
    row, with ``clean_text = ''`` and ``n_removed_tokens = n_tokens``).

    Plan (100 TB shape): the gram table, hash-groupBy document
    frequency, and position fan-out are the SAME bounded stages as the
    profile (xxhash64 8-byte shuffle keys, fan-out only on the
    duplicated subset).  The text surgery — token-explode, anti-join on
    covered positions, ordered re-assembly — runs ONLY on documents that
    actually lose a span (join-gated); untouched documents never explode,
    so the expensive token-level shuffle is proportional to real
    duplication, not corpus size.

    Persist discipline (r13 optimization, guide §2.4/§5.3): the
    multi-consumer DAG (grams feeds stats AND the occurrence join; hits
    feeds excise AND protect; covered feeds the gate AND the surgery
    anti-join) previously recompiled each shared subtree per consumer —
    ~20 corpus-scan leaves, the gram fan-out built 4× per run
    (spikes/scan_multiplicity.py).  Each shared relation is now
    persisted once: ``grams`` is the one corpus-sized cache (8-byte
    hash + 2 ints per gram — cheaper spilled once than re-scanning,
    re-splitting, re-hashing the corpus 4×); ``hits``/``covered``/
    ``touched_ids`` are duplication-proportional, ``n_tok`` doc-count
    sized.
    """
    from pyspark.storagelevel import StorageLevel

    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("t")
    )
    grams = (
        toks.filter(F.size("t") >= k)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - k),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, k)),
                )
            ).alias("pos", "g"),
        )
        .select("id", "pos", F.xxhash64("g").alias("gh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-gram document frequency + canonical (lowest) holder, one
    # hash-groupBy on the 8-byte gram key
    gram_stats = (
        grams.select("gh", "id")
        .distinct()
        .groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("id").alias("canon"),
        )
        .filter(F.col("df") >= min_df)
    )
    # occurrences to excise: qualifying gram in a NON-canonical doc;
    # expand each to its k covered token positions and dedup overlaps.
    # Positions also covered by a gram this doc IS canonical for are
    # protected (anti-join) so the canonical copy of every duplicated
    # gram survives intact even under overlapping spans with different
    # canonical holders.
    hits = grams.join(gram_stats, "gh").persist(StorageLevel.MEMORY_AND_DISK)
    covered = (
        hits.filter(F.col("id") != F.col("canon"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cp"),
        )
        .distinct()
    )
    protected = (
        hits.filter(F.col("id") == F.col("canon"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cp"),
        )
        .distinct()
    )
    covered = covered.join(protected, ["id", "cp"], "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    touched_ids = covered.select("id").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # token surgery ONLY on touched documents
    touched = toks.join(touched_ids, "id")
    positions = touched.select(
        "id", F.posexplode("t").alias("cp", "tok")
    )
    kept = positions.join(covered, ["id", "cp"], "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cp", "tok"))
            ).alias("pairs")
        )
        .select(
            "id",
            F.concat_ws(
                " ", F.transform("pairs", lambda p: p["tok"])
            ).alias("clean_text"),
            F.size("pairs").alias("n_kept"),
        )
    )
    n_tok = toks.select("id", F.size("t").alias("n_tokens")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # LEFT join: a fully-excised document (every position covered, e.g.
    # an exact duplicate of a lower-id doc) produces no `rebuilt` row
    # but must still emit its output row with empty clean_text.
    out_touched = (
        n_tok.join(touched_ids, "id")
        .join(rebuilt, "id", "left")
        .select(
            "id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
    untouched = (
        df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("clean_text")
        )
        .join(touched_ids, "id", "left_anti")
        .join(n_tok, "id")
        .select(
            "id",
            "n_tokens",
            F.lit(0).cast("long").alias("n_removed_tokens"),
            "clean_text",
        )
    )
    return out_touched.unionByName(untouched)


def _fuzzy_tokset(col):
    return F.array_distinct(
        F.filter(
            F.split(F.trim(F.lower(F.col(col))), r"\s+"),
            lambda x: x != "",
        )
    )


def fuzzy_join_candidates(
    lt: DataFrame,
    rt: DataFrame,
    *,
    threshold: float,
    max_token_df: int | None = None,
) -> DataFrame:
    """Candidate (``__lid``, ``__rid``) pairs for
    :func:`fuzzy_join_jaccard` via RAREST-k PREFIX BLOCKING (prefix
    filtering: Chaudhuri/Ganti/Kaushik ICDE 2006; Bayardo/Ma/Srikant
    WWW 2007; Xiao et al. ppjoin, WWW 2008).  Inputs are the internal
    ``(__lid, __ltoks)`` / ``(__rid, __rtoks)`` token-set relations;
    exposed module-level so plan/volume tests can pin candidate counts
    on hot-token fixtures.

    Both sides' distinct-token sets are ordered by ONE global total
    order — ascending left-corpus document frequency, token-value
    tiebreak, df 0 for tokens unseen on the left — and each doc blocks
    on only its first ``⌊(1−t)·n⌋+1`` tokens (n = distinct-token
    count).  Prefix-filtering lemma: under any fixed total order, two
    sets with ``|x∩y| ≥ α`` must share a token within their first
    ``|x|−α+1`` elements, and Jaccard ≥ t implies ``|x∩y| ≥ ⌈t·|x|⌉``
    per side — so the blocking is COMPLETE for the declared threshold
    while a stopword shared by every document lands at the END of the
    order and never enters a prefix unless a doc is almost nothing but
    stopwords.  This is what keeps the candidate join off the
    df_L·df_R stopword block that a share-any-token scheme generates
    at corpus scale.  The float prefix length carries a +1e-9 nudge so
    binary rounding can only ever LENGTHEN a prefix (longer prefix =
    superset of candidates = still complete).

    ``max_token_df`` remains the LOSSY knob on top: tokens whose
    left-side df exceeds it are excluded from both prefix streams (a
    pair whose shared tokens are all ubiquitous is missed; surviving
    pairs keep exact Jaccard).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"fuzzy_join_jaccard: threshold must be in (0, 1], got {threshold}"
        )
    lx = lt.select("__lid", F.explode("__ltoks").alias("__tok"))
    rx = rt.select("__rid", F.explode("__rtoks").alias("__tok"))
    # the df table joins into BOTH prefix streams; unpersisted, each
    # stream re-aggregated it from a fresh corpus explode (r13
    # optimization, guide §2.4; vocabulary-sized cache)
    tok_df = (
        lx.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__df"))
        .persist()
    )

    def prefix_stream(exploded, id_col):
        # token-keyed shuffle join (vocabulary never broadcasts), then
        # rebuild each doc's (df, tok)-sorted array and keep the prefix
        keyed = exploded.join(tok_df, "__tok", "left").select(
            id_col,
            F.struct(
                F.coalesce(F.col("__df"), F.lit(0)).alias("__df"),
                F.col("__tok").alias("__tok"),
            ).alias("__o"),
        )
        per_doc = keyed.groupBy(id_col).agg(
            F.sort_array(F.collect_list("__o")).alias("__ord")
        )
        n = F.size("__ord")
        plen = F.least(
            (F.floor((1.0 - threshold) * n + 1e-9) + 1).cast("int"), n
        )
        pref = per_doc.select(
            id_col,
            F.explode(F.slice("__ord", 1, plen)).alias("__p"),
        ).select(id_col, F.col("__p.__tok").alias("__tok"), F.col("__p.__df").alias("__df"))
        if max_token_df is not None:
            pref = pref.filter(F.col("__df") <= max_token_df)
        return pref.select(id_col, "__tok")

    lpref = prefix_stream(lx, "__lid")
    rpref = prefix_stream(rx, "__rid")
    return lpref.join(rpref, "__tok").select("__lid", "__rid").distinct()


def fuzzy_join_jaccard(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    left_text: str,
    right_id: str,
    right_text: str,
    threshold: float = 0.5,
    max_token_df: int | None = None,
    broadcast_right: bool = True,
    blocking: str = "prefix",
) -> DataFrame:
    """Cross-TABLE fuzzy join (record linkage) on word-token Jaccard:
    the two-table sibling of :func:`ngram_jaccard_pairs`.  Blocking +
    verify: candidates come from rarest-k PREFIX blocking
    (:func:`fuzzy_join_candidates` — complete for the declared
    threshold, stopword blocks never materialize), exact Jaccard over
    the full distinct-token sets decides.  Returns ``(left_id,
    right_id, jaccard)`` for pairs ≥ ``threshold`` (must be > 0).

    100 TB shape: candidate volume is Σ over PREFIX tokens of
    df_L·df_R — rare tokens by construction — never the stopword
    df_L·df_R block a share-any-token scheme pays; the verify join
    pulls each side's token ARRAY back by id.  ``broadcast_right=True``
    (default) broadcasts the right side for the verify join — right is
    typically the small probe/query table; pass ``False`` when the
    right side is too large for executor memory and the verify join
    degrades to a shuffle hash join instead of an OOM.
    ``max_token_df`` is the same LOSSY skew knob as the dedup family:
    tokens whose LEFT-side document frequency exceeds it are excluded
    from candidate generation only (a pair whose shared tokens are all
    ubiquitous is missed; Jaccard stays exact for surviving pairs).

    ``blocking``: ``"prefix"`` (default) or ``"any"`` (the simple
    share-any-token candidate stage).  Both are complete; the choice is
    a measured corpus-shape trade (``bench_fuzzy_ab_r13.json``): on
    natural-language df profiles (few ubiquitous tokens, long rare
    tail) ``"any"`` degenerates to the |L|·|R| stopword block — 1081×
    more candidates, 16× slower e2e on the zipf fixture — while on
    DENSE near-duplicate corpora (tiny vocabulary, most pairs truly
    similar) candidate volume is dominated by true pairs no complete
    blocking can remove, and ``"any"`` skips the prefix path's
    df-join/sort overhead (~1.9× faster there).  Reach for ``"any"``
    only when you know the corpus is dense and small-vocabulary.
    """

    if left_id == right_id:
        raise ValueError(
            "fuzzy_join_jaccard: left_id and right_id must differ "
            f"(both {left_id!r}) — the output carries one column per side"
        )

    from pyspark.storagelevel import StorageLevel

    # each side's token-set relation feeds the candidate stage (explode →
    # df aggregate → prefix stream) AND the verify join; unpersisted, the
    # whole scan + tokenize re-ran per consumer (left ~4×, right 2× —
    # spikes/scan_multiplicity.py).  One tokenization each, spilled to
    # disk if the arrays outgrow memory (r13 optimization, guide §2.4/§5.3).
    lt = left.select(
        F.col(left_id).alias("__lid"), _fuzzy_tokset(left_text).alias("__ltoks")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    rt = right.select(
        F.col(right_id).alias("__rid"), _fuzzy_tokset(right_text).alias("__rtoks")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if blocking == "prefix":
        cand = fuzzy_join_candidates(
            lt, rt, threshold=threshold, max_token_df=max_token_df
        )
    elif blocking == "any":
        if not 0.0 < threshold <= 1.0:
            raise ValueError(
                f"fuzzy_join_jaccard: threshold must be in (0, 1], got {threshold}"
            )
        lx = lt.select("__lid", F.explode("__ltoks").alias("__tok"))
        if max_token_df is not None:
            hot = (
                lx.groupBy("__tok")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_token_df)
                .select("__tok")
            )
            lx = lx.join(F.broadcast(hot), "__tok", "left_anti")
        rx = rt.select("__rid", F.explode("__rtoks").alias("__tok"))
        cand = lx.join(rx, "__tok").select("__lid", "__rid").distinct()
    else:
        raise ValueError(
            f"fuzzy_join_jaccard: blocking must be 'prefix' or 'any', got {blocking!r}"
        )
    rside = F.broadcast(rt) if broadcast_right else rt
    pairs = cand.join(lt, "__lid").join(rside, "__rid")
    jac = F.size(F.array_intersect("__ltoks", "__rtoks")) / F.size(
        F.array_union("__ltoks", "__rtoks")
    )
    return (
        pairs.select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
