"""Corpus-scale deduplication operators over a documents table.

The reference dedups embedded images by MD5 within one file
(``pdfplumber/smart_pdf_extractor.py:195-254`` — D1) and perceptually within
one page (D3). A 100 TB training-data pipeline needs the corpus-scale
versions; each operator here is a `queries()` entry with a DuckDB oracle.

Portability contract for oracles: every hash is **md5-hex**, which DuckDB
and Spark compute identically for UTF-8 strings; minhash signatures compare
md5-hex strings lexicographically (min over shingles), so no integer-hash
divergence between engines can occur.

Scale notes:
- exact dedup: one shuffle on the digest; Window+row_number (not
  dropDuplicates) so the survivor is deterministic (first doc_id), matching
  the reference's first-in-order-wins semantics.
- minhash-LSH: explode shingles (flatMap — no shuffle), per-doc agg (one
  shuffle on doc_id), band explode, bucket self-join (shuffle on the band
  signature — the whole point: candidate pairs only, never the full n²),
  verified by exact Jaccard on the candidates.
- skew: identical boilerplate docs make hot LSH buckets; ``_capped`` drops
  any bucket wider than ``max_bucket`` (a documented under-report).
- every LSH operator here and in ``similarity`` runs the same steps:
  ``_capped`` → ``_bucket_pairs`` (bucket equi-join to distinct id pairs)
  → an exact verify on the candidates.
"""
from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import track

__all__ = [
    "exact_dedup",
    "shingles",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_incremental",
    "ngram_jaccard_pairs",
    "decontamination_hits",
    "simhash64_chunks",
    "simhash_hamming_pairs",
    "connected_components",
]


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the first (lowest id) doc per exact-content md5 (D1 semantics)."""
    w = Window.partitionBy("content_md5").orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("content_md5", F.md5(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) rows: distinct k-word shingles per document.

    Tokenization = split on single spaces (the documents fixture is
    single-spaced word salad; a real corpus would normalize first).

    Built as k shifted array slices zipped together — O(n·k) per document.
    (The obvious ``transform(sequence(...), i -> slice(toks, i+1, k))`` is
    O(n²) per document because each slice copies: 2-3x slower even at 100-token
    docs, and unbounded for long ones.) Documents shorter than k tokens yield
    no shingles.
    """
    return _shingle_stream(docs, text_col, id_col, k).distinct()


def _shingle_stream(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, shingle) rows WITHOUT the distinct pass — a pure flatMap (no
    shuffle). Consumers that aggregate by id (minhash_lsh_pairs) fold the
    dedup into their own groupBy (min/collect_set are duplicate-insensitive)
    and save the distinct's whole-stream exchange."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))  # number of k-shingles
    parts = [F.slice(toks, j + 1, m) for j in range(k)]
    combined = parts[0]
    for p in parts[1:]:
        combined = F.zip_with(combined, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return docs.select(
        F.col(id_col).alias("id"), F.explode(combined).alias("shingle")
    ).filter(F.length("shingle") > 0)


def _minhash_doc_table(
    docs: DataFrame, text_col: str, id_col: str, k: int, num_hashes: int
) -> DataFrame:
    """Per-doc (id, mh0..mhN-1, shs, n_sh), persisted.

    ONE shuffle of the shingle stream: a single groupBy(id) computes BOTH
    the minhash signature (min over duplicates == min over the set, so no
    pre-distinct pass) and the distinct-shingle array (unsorted — verify
    only takes array_intersect SIZES). Persisted: feeds the band table and
    both verify sides.

    Signature: ONE md5 per shingle, chunked into ``num_hashes`` disjoint
    hex substrings; component s is the lexicographic min over shingles of
    chunk s. One hash instead of ``num_hashes`` per shingle, and md5-hex
    substrings compare identically in any engine.
    """
    assert 32 % num_hashes == 0, "num_hashes must divide 32"
    w = 32 // num_hashes
    raw = _shingle_stream(docs, text_col, id_col, k)
    h = F.md5(F.col("shingle"))
    return (
        raw.groupBy("id")
        .agg(
            *[
                F.min(F.substring(h, s * w + 1, w)).alias(f"mh{s}")
                for s in range(num_hashes)
            ],
            F.collect_set("shingle").alias("shs"),
        )
        .withColumn("n_sh", F.size("shs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )


def _band_rows(agg: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band) rows: band b = 'b|' + its signature chunk, exploded."""
    rows_per_band = num_hashes // bands
    band_col = F.explode(
        F.array(
            *[
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
                for b in range(bands)
            ]
        )
    )
    return agg.select("id", band_col.alias("band"))


def _capped(rows: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """``rows`` minus every bucket (``keys``) holding more than
    ``max_bucket`` rows — the skew guard: a boilerplate flood would make
    one bucket an O(n²) task. A dropped bucket under-reports pairs, which
    LSH recall tolerates."""
    sizes = rows.groupBy(*keys).agg(F.count("*").alias("n"))
    return rows.join(sizes.filter(F.col("n") <= max_bucket).select(*keys), keys)


def _bucket_pairs(
    a: DataFrame, b: DataFrame, keys: list[str], names: tuple[str, str]
) -> DataFrame:
    """Distinct (names[0], names[1]) id pairs sharing a bucket: the bucket
    equi-join every LSH operator runs instead of the n² cross product.
    Self-join callers add ``id_a < id_b``; Catalyst pushes it into the
    join."""
    return (
        a.alias("a")
        .join(b.alias("b"), keys)
        .select(F.col("a.id").alias(names[0]), F.col("b.id").alias(names[1]))
        .distinct()
    )


def _verified_jaccard(
    cand: DataFrame,
    agg_a: DataFrame,
    agg_b: DataFrame,
    names: tuple[str, str],
    threshold: float,
) -> DataFrame:
    """Exact Jaccard on the candidate pairs only: join each side's
    doc-level shingle array and intersect them per pair
    (``F.array_intersect`` — O(na+nb) per candidate)."""
    id_a, id_b = names
    la = agg_a.select(
        F.col("id").alias(id_a), F.col("shs").alias("sa"), F.col("n_sh").alias("na")
    )
    lb = agg_b.select(
        F.col("id").alias(id_b), F.col("shs").alias("sb"), F.col("n_sh").alias("nb")
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (
        cand.join(la, id_a)
        .join(lb, id_b)
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(id_a, id_b, "jaccard")
        .orderBy(id_a, id_b)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded minhash-LSH, then exact
    Jaccard verification on the candidates only.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold,
    ordered. ``max_bucket`` caps pathological buckets (boilerplate floods);
    capped buckets are dropped, which under-reports — acceptable for LSH
    recall, and the exact-verify path stays O(candidates).

    Plan shape (the 100 TB concern): the exploded shingle stream shuffles
    exactly ONCE — a single groupBy(id) computes BOTH the minhash signature
    (min over duplicates == min over the set, so no pre-distinct pass) and
    the distinct-shingle array (unsorted: verify only needs intersection
    sizes). Exact verification then joins the candidate pairs against that
    doc-level table and intersects the two arrays per pair. The earlier
    shape re-joined the full shingle table twice per candidate side (a
    sort-merge join on (id, shingle) over the corpus — measured 61% of the
    whole bench suite); this one touches only doc-level rows after the
    single agg. Trade-off: the per-doc shingle array is the same order of
    size as the document text itself — fine wherever the corpus itself fits
    the cluster.
    """
    agg = _minhash_doc_table(docs, text_col, id_col, k, num_hashes)
    stacked = _capped(_band_rows(agg, num_hashes, bands), ["band"], max_bucket)
    cand = _bucket_pairs(stacked, stacked, ["band"], ("id_a", "id_b")).filter(
        F.col("id_a") < F.col("id_b")
    )
    return _verified_jaccard(cand, agg, agg, ("id_a", "id_b"), jaccard_threshold)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 50,
) -> DataFrame:
    """Dedup an incoming BATCH against an existing CORPUS — the shape a
    daily ingestion pipeline runs: candidates come from an equi-JOIN of the
    batch's band rows against the corpus band rows, never a corpus
    self-join. Each call still re-shingles and re-bands the whole corpus;
    a persisted, band-bucketed corpus table is ROADMAP item 7.

    Returns (id_new, id_corpus, jaccard >= threshold), ordered.
    ``max_bucket`` caps the CORPUS side of each band bucket (boilerplate
    floods); the batch side is assumed small and is never capped.
    """
    agg_new = _minhash_doc_table(new_docs, text_col, id_col, k, num_hashes)
    agg_cor = _minhash_doc_table(corpus_docs, text_col, id_col, k, num_hashes)
    sc = _capped(_band_rows(agg_cor, num_hashes, bands), ["band"], max_bucket)
    names = ("id_new", "id_corpus")
    cand = _bucket_pairs(_band_rows(agg_new, num_hashes, bands), sc, ["band"], names)
    return _verified_jaccard(cand, agg_new, agg_cor, names, jaccard_threshold)


def decontamination_hits(
    corpus_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any k-word
    n-gram with an eval-set document — the pre-training hygiene join every
    production pipeline runs before an eval suite's results mean anything
    (the GPT-3/PaLM appendix procedure: 13-gram overlap against the
    benchmark). r04 verdict task #4.

    Returns (corpus_id, eval_id, n_matched, eval_frac) ordered, where
    n_matched counts DISTINCT shared k-grams and eval_frac = n_matched /
    |eval doc's k-grams| (how much of the eval doc leaks — 1.0 means the
    whole prompt is in the corpus). ``min_overlap`` is the standard
    single-collision trigger; raise it to tolerate boilerplate n-grams.

    Plan shape (the 100 TB concern): the corpus side is a pure flatMap
    shingle stream — never shuffled, never collected; the EVAL side is
    small by construction (an eval suite is KBs-MBs), so its distinct
    shingle table is broadcast and the join runs map-side at scan speed.
    The only shuffle is the groupBy on (corpus_id, eval_id) over matched
    rows — a set that is empty for a clean corpus. This is the
    ``minhash_lsh_pairs_incremental`` batch-vs-corpus shape with the roles
    flipped: the big side streams, the small side broadcasts.
    """
    ev = (
        shingles(eval_docs, text_col, id_col, k)
        .withColumnsRenamed({"id": "eval_id"})
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )  # feeds the broadcast join AND the per-eval-doc denominator
    cs = _shingle_stream(corpus_docs, text_col, id_col, k).withColumnsRenamed(
        {"id": "corpus_id"}
    )
    matched = cs.join(F.broadcast(ev), "shingle").groupBy(
        "corpus_id", "eval_id"
    ).agg(F.count_distinct("shingle").alias("n_matched"))
    ev_counts = ev.groupBy("eval_id").agg(F.count("*").alias("n_eval"))
    return (
        matched.join(F.broadcast(ev_counts), "eval_id")
        .filter(F.col("n_matched") >= min_overlap)
        .select(
            "corpus_id",
            "eval_id",
            F.col("n_matched").cast("long").alias("n_matched"),
            F.round(F.col("n_matched") / F.col("n_eval"), 6).alias("eval_frac"),
        )
        .orderBy("corpus_id", "eval_id")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold (the brute-force oracle
    LSH approximates). Shingle-join keyed on the shingle keeps it far below
    n² when overlap is sparse; still quadratic in the worst case — use
    minhash_lsh_pairs at scale."""
    sh = track(shingles(docs, text_col, id_col, k).persist(StorageLevel.MEMORY_AND_DISK))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(counts.withColumnsRenamed({"id": "id_a", "n_sh": "na"}), "id_a")
        .join(counts.withColumnsRenamed({"id": "id_b", "n_sh": "nb"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def simhash64_chunks(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc 64-bit SimHash as FOUR 16-bit chunks (id, c0..c3).

    64-bit is the standard simhash width (Charikar/Manku et al.); a single
    BIGINT column would need the sign bit and engine-divergent unsigned
    casts, so the hash lives as 4x16-bit integers — exactly the chunk shape
    the pigeonhole banding (``simhash_hamming_pairs``) needs anyway. Chunk j
    derives from hex chars [4j..4j+3] of md5(token) (portable across
    engines); bit r of chunk j is 1 iff the majority of tokens have it set.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = F.md5(F.col("tok"))
    chunks = toks.select(
        "id",
        *[
            F.conv(F.substring(h, 4 * j + 1, 4), 16, 10)
            .cast("long")
            .alias(f"h{j}")
            for j in range(4)
        ],
    )
    sums = chunks.groupBy("id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col(f"h{j}"), r).bitwiseAND(F.lit(1))).alias(
                f"s{j}_{r}"
            )
            for j in range(4)
            for r in range(16)
        ],
    )
    chunk_cols = []
    for j in range(4):
        c = None
        for r in range(16):
            term = F.when(
                F.col(f"s{j}_{r}") * 2 > F.col("n"), F.lit(1 << r).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            c = term if c is None else (c + term)
        chunk_cols.append(c.alias(f"c{j}"))
    return sums.select("id", *chunk_cols)


def simhash_hamming_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """Hamming-near simhash64 pairs via pigeonhole chunk banding — the
    operator a dedup pipeline actually runs on simhash output.

    Pigeonhole: two hashes with Hamming distance <= 3 agree EXACTLY on at
    least one of the 4 16-bit chunks, so candidates = pairs sharing
    (chunk_idx, chunk_value); exact Hamming (popcount of XOR per chunk,
    summed) verifies candidates only — never the n² cross product. Larger
    ``max_hamming`` keeps LSH-recall semantics (pairs found only if they
    collide on some chunk), which the oracle mirrors. ``max_bucket`` caps
    boilerplate floods exactly like minhash_lsh_pairs.

    Returns (id_a, id_b, hamming) with id_a < id_b, ordered.
    """
    ch = track(simhash64_chunks(docs, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    ))  # feeds the band explode AND both chunk-lookup join sides
    bands = ch.select(
        "id",
        F.posexplode(F.array(*[F.col(f"c{j}") for j in range(4)])).alias(
            "band_idx", "band_val"
        ),
    )
    keys = ["band_idx", "band_val"]
    bands = _capped(bands, keys, max_bucket)
    cand = _bucket_pairs(bands, bands, keys, ("id_a", "id_b")).filter(
        F.col("id_a") < F.col("id_b")
    )
    ca = ch.select(*[F.col(c).alias(f"a_{c}") for c in ch.columns])
    cb = ch.select(*[F.col(c).alias(f"b_{c}") for c in ch.columns])
    ham = None
    for j in range(4):
        t = F.bit_count(F.col(f"a_c{j}").bitwiseXOR(F.col(f"b_c{j}")))
        ham = t if ham is None else (ham + t)
    return (
        cand.join(ca, F.col("id_a") == F.col("a_id"))
        .join(cb, F.col("id_b") == F.col("b_id"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def _local_checkpoint_tracked(df: DataFrame):
    """localCheckpoint(eager) + the JVM RDD holding its blocks.

    The handle lets the caller free the blocks explicitly once a later
    iteration no longer reads them (checkpoint blocks otherwise accumulate
    until the ContextCleaner happens to GC them). The checkpointed frame's
    plan is a ``LogicalRDD`` over exactly that RDD; diffing
    ``getPersistentRDDs`` around the checkpoint would also catch a persisted
    input that the checkpoint job materializes.
    """
    out = df.localCheckpoint(eager=True)
    return out, out._jdf.logicalPlan().rdd()


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Connected components of the near-duplicate graph by iterative
    min-label propagation — a dedup pipeline keeps ONE doc per duplicate
    CLUSTER, and near-dupness is only transitive through components, not
    pairs.

    nodes: (id); edges: (id_a, id_b) undirected. Returns (id, component)
    where component = min node id reachable. The driver loop runs
    label[i] <- min(label[i], min over neighbors of label[j]) until a
    fixpoint (each iteration: one join + one groupBy; convergence checked
    with a count action on changed labels; the previous iteration's
    checkpoint blocks are explicitly unpersisted once ``changed`` has been
    computed, so block storage holds at most two label generations; the
    final generation is ``track``ed, so ``caching.release_persisted()``
    frees it).
    Iterations needed = graph diameter; near-dup graphs are
    shallow (dup clusters are cliques-ish), so this converges in 2-3
    rounds. If the loop exhausts ``max_iters`` without converging the
    result is a WRONG (over-split) labelling — a chain deeper than
    max_iters hops keeps propagating — so that case raises rather than
    returning silently.
    """
    # localCheckpoint (not persist) on every iteration output: a persisted
    # DataFrame still CARRIES its full logical plan, so by iteration k
    # Catalyst re-analyzes a k-deep plan and the driver-side cost grows
    # super-linearly (measured 1.5s -> 18s by iteration 3); checkpointing
    # truncates the lineage so every round plans against a flat scan.
    sym, sym_rdd = _local_checkpoint_tracked(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    labels, labels_rdd = _local_checkpoint_tracked(
        nodes.select(F.col("id"), F.col("id").alias("component"))
    )
    changed = -1
    for _ in range(max_iters):
        nbr = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels, new_rdd = _local_checkpoint_tracked(
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"],
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        # the old generation's blocks fed the eager checkpoint and the
        # `changed` count above; nothing reads them after this point
        labels_rdd.unpersist(False)
        labels, labels_rdd = new_labels, new_rdd
        if changed == 0:
            break
    sym_rdd.unpersist(False)
    track(labels_rdd)  # the returned plan reads it until released
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            f"({changed} labels still changing) — result would be over-split; "
            "raise max_iters (graph diameter exceeds it)"
        )
    return labels.orderBy("id")
