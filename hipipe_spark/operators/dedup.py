"""Deduplication operators for training-data pipelines.

Beyond-reference capability (task spec): exact, MinHash+LSH, SimHash,
n-gram Jaccard, and embedding-cosine near-duplicate detection, all
expressed as distributed DataFrame plans:

- no pairwise O(n²) anywhere except *within* LSH buckets / candidate
  groups — the only strategy that survives 100 TB;
- candidate generation is equi-join on bucket keys (shuffle on a
  well-distributed hash — AQE handles residual skew);
- verification (true Jaccard / cosine) only runs on candidate pairs.

All hash seeds are fixed constants → deterministic at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.functions.hashing import det_hash_i64, det_hash_str_i64
from hipipe_spark.functions.text import exact_fingerprint, fingerprint, tokens
from hipipe_spark.functions.text import word_ngrams as text_ngrams


# ------------------------------------------------------------------ exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                canonical: bool = False) -> DataFrame:
    """Keep one representative row per (byte-exact or canonicalized)
    text; the representative is the min id (deterministic). One shuffle
    on the fingerprint (hash-groupBy); at scale the fingerprint is
    high-cardinality and well distributed."""
    fp = fingerprint(F.col(text_col)) if canonical else exact_fingerprint(F.col(text_col))
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# ------------------------------------------------------------- shingling
def _idx_1_to(cnt: Column) -> Column:
    """[1..cnt], EMPTY when cnt < 1. A bare sequence(1, 0) silently
    DESCENDS to [1, 0] (Spark picks step=-1 when start > stop), which
    then feeds slice/substr a 0 start — an ANSI runtime error on any
    input shorter than the shingle width."""
    return F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>"))


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-shingles of a string, JVM-side:
    transform over an index sequence + substring."""
    n = F.greatest(F.length(col) - (k - 1), F.lit(0))
    idx = _idx_1_to(n)  # 1-based substring positions; empty when n=0
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(k))))


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of the lowercased text."""
    return F.array_distinct(text_ngrams(tokens(F.lower(col)), n))


# --------------------------------------------------------------- MinHash
def minhash_signature(shingles: Column, n_hashes: int = 32,
                      hash_family: str = "xxhash64") -> Column:
    """MinHash signature: per hash function i, min over shingles of
    hash(shingle, i). Pure JVM expressions; n_hashes array_min scans
    over the shingle array per row.

    ``hash_family="det"`` swaps xxhash64 for the LCG/polynomial family
    (``hipipe_spark.functions.hashing.det_hash_str_i64``) whose exact
    arithmetic DuckDB can re-run — the oracle-mode hash.
    The per-shingle string fold runs ONCE; the n_hashes functions are
    cheap integer re-mixes of that base value."""
    if hash_family == "xxhash64":
        return F.array(
            *[F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
              for i in range(n_hashes)]
        )
    if hash_family != "det":
        raise ValueError(hash_family)
    base = F.transform(shingles, lambda s: det_hash_str_i64(s, 0))

    def _remix(i):
        # NB: a 2-arg lambda would make F.transform pass the element
        # INDEX as the second argument — close over i instead
        return F.array_min(F.transform(base, lambda h: det_hash_i64(h, i)))

    return F.array(*[_remix(i) for i in range(n_hashes)])


def _exact_prepass(df: DataFrame, id_col: str, text_col: str):
    """Collapse byte-identical texts to their min-id representative.

    Returns (reps, star): ``reps`` = one row (id, text) per distinct
    text; ``star`` = (id_a=rep, id_b=member) edges for every collapsed
    member. A cluster of n identical copies contributes n-1 star edges
    (O(n)) instead of the n(n-1)/2 all-pairs a bucket join would emit —
    THE giant-duplicate-cluster guard: a 1M-copy boilerplate doc would
    otherwise put ~10¹² candidate pairs through every LSH band bucket.
    Star edges are equivalent under transitive closure (connected
    components give identical clusters)."""
    w = Window.partitionBy("__fp")
    tagged = (df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
              .withColumn("__fp", exact_fingerprint(F.col("__txt")))
              .withColumn("__rep", F.min("id").over(w)))
    star = (tagged.filter(F.col("id") != F.col("__rep"))
            .select(F.col("__rep").alias("id_a"), F.col("id").alias("id_b")))
    reps = tagged.filter(F.col("id") == F.col("__rep")).select("id", "__txt")
    return reps, star


def _minhash_base(df: DataFrame, id_col: str, text_col: str,
                  shingle_k: int, n_hashes: int, shingle: str,
                  hash_family: str, exact_prepass: bool):
    """``(id, sh, sig)`` per document: shingle set and MinHash
    signature. With ``exact_prepass`` the rows are the min-id
    representatives of each distinct text and the second return value
    holds the star edges of the collapsed members (else None)."""
    star = None
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
    if exact_prepass:
        src, star = _exact_prepass(df, id_col, text_col)
    sh_fn = char_shingles if shingle == "char" else word_ngrams
    base = src.select("id", sh_fn(F.col("__txt"), shingle_k).alias("sh"))
    return base.withColumn(
        "sig", minhash_signature(F.col("sh"), n_hashes, hash_family)), star


def _band_key(b: int, rows_per_band: int, hash_family: str) -> Column:
    """Bucket key of band ``b``: xxhash64 of the signature slice (an
    8-byte shuffle key) for the default family; the raw slice for
    "det", so a DuckDB oracle can group on the same key."""
    sl = F.slice("sig", b * rows_per_band + 1, rows_per_band)
    return F.xxhash64(sl) if hash_family == "xxhash64" else sl


def _banded(frame: DataFrame, n_hashes: int, bands: int,
            hash_family: str) -> DataFrame:
    """``(id, band, bh)``: one row per document and band. Ids only —
    carrying the shingle arrays through the explode would shuffle every
    shingle set ``bands`` times."""
    rows_per_band = n_hashes // bands
    assert rows_per_band * bands == n_hashes, "bands must divide n_hashes"
    return frame.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     _band_key(b, rows_per_band, hash_family).alias("bh"))
            for b in range(bands)])).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def _band_self_pairs(banded: DataFrame) -> DataFrame:
    """``(id_a, id_b)``, ``id_a < id_b``: pairs sharing a band bucket —
    an equi-join on (band, bh), broadcast-free, shuffled on a uniform
    key."""
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, on=["band", "bh"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def _with_sets(cand: DataFrame, sets: DataFrame, col: str) -> DataFrame:
    """Fetch each side's set once: ``(id_a, id_b)`` candidates joined
    with ``sets`` ``(id, col)`` into ``col_a`` / ``col_b``."""
    def side(s):
        return sets.select(F.col("id").alias(f"id_{s}"),
                           F.col(col).alias(f"{col}_{s}"))
    return cand.join(side("a"), "id_a").join(side("b"), "id_b")


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays; 0.0 when both are
    empty."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _verified(pairs: DataFrame, jaccard_threshold: float | None,
              star: DataFrame | None) -> DataFrame:
    """``(id_a, id_b, jaccard)`` from ``(id_a, id_b, sh_a, sh_b)``
    candidates, kept at ``jaccard >= jaccard_threshold`` (all when
    None), plus the exact-prepass star edges at jaccard 1.0."""
    out = pairs.select("id_a", "id_b",
                       _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard") >= jaccard_threshold)
    if star is not None:
        out = out.unionByName(star.withColumn("jaccard", F.lit(1.0)))
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float | None = 0.8,
    shingle: str = "char",
    hash_family: str = "xxhash64",
    exact_prepass: bool = True,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH.

    shingle → minhash → band → bucket equi-join → (optional) verify with
    true shingle-set Jaccard. Output: (id_a, id_b, jaccard) with
    id_a < id_b. The band join is an equi-join on (band_idx, band_hash):
    broadcast-free, shuffle on a uniform key — the 100 TB-safe shape.

    ``exact_prepass`` (default on): byte-identical docs are collapsed to
    one representative before LSH; each collapsed member appears in the
    output as a star edge (min-id rep, member, jaccard 1.0). Pairs that
    would have involved a non-representative member appear against the
    representative instead (identical text ⇒ identical jaccard) — the
    same clusters under transitive closure, with O(cluster) instead of
    O(cluster²) rows for exact-duplicate clusters.

    ``bucket_cap``: optionally drop (band, bucket) groups holding more
    than this many docs before pairing. Near-identical-but-not-equal
    giant clusters have inherently quadratic TRUE pair sets, so an exact
    output cannot avoid O(n²) there; the cap trades recall on such
    monster buckets for a hard bound on candidate blowup. None = exact.

    ``hash_family``: "xxhash64" (default, cheapest) or "det" — the
    LCG/polynomial family from :mod:`hipipe_spark.functions.hashing`
    whose arithmetic a DuckDB oracle can reproduce bit-for-bit.

    Cache lifetime: the signature base frame is persisted (band explode
    and verify join both read it). The CALLER owns the cache — after
    materializing the result, call
    :func:`hipipe_spark.operators.core.release_cached` on it.
    """
    base, star = _minhash_base(df, id_col, text_col, shingle_k, n_hashes,
                               shingle, hash_family, exact_prepass)
    base = base.persist()
    banded = _banded(base, n_hashes, bands, hash_family)
    if bucket_cap is not None:
        wb = Window.partitionBy("band", "bh")
        banded = (banded.withColumn("__bn", F.count("*").over(wb))
                  .filter(F.col("__bn") <= bucket_cap).drop("__bn"))
    pairs = _with_sets(_band_self_pairs(banded), base, "sh")
    from hipipe_spark.operators.core import register_cached
    return register_cached(_verified(pairs, jaccard_threshold, star), base)


# --------------------------------------------------------------- SimHash
SIMHASH_DET_SEED = 1000  # decouple the det bit streams from minhash seeds


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64, hash_family: str = "xxhash64") -> DataFrame:
    """SimHash per document, fully JVM-side: explode tokens, hash each
    token once, then per bit sum +1/-1 and reassemble. One shuffle
    (groupBy id). Documents with no tokens get simhash 0.

    ``hash_family="det"``: bit i of a token comes from
    ``det_hash_i64(poly_hash(token), SIMHASH_DET_SEED + i) & 1`` — the
    DuckDB-reproducible stream (use bits ≤ 60 there so 1<<i arithmetic
    stays exact in BIGINT on both engines)."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("t"),
    )
    if hash_family == "xxhash64":
        tok = tok.withColumn("h", F.xxhash64("t"))
        def bit(i):
            return F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
    elif hash_family == "det":
        assert bits <= 60, "det simhash caps at 60 bits (BIGINT-exact 1<<i)"
        tok = tok.withColumn("h", det_hash_str_i64(F.col("t"), 0))
        def bit(i):
            # take a HIGH bit of the LCG output — the low bit of an LCG
            # with modulus 2^31 is pure input parity (degenerate)
            return F.shiftright(det_hash_i64(F.col("h"), SIMHASH_DET_SEED + i),
                                15).bitwiseAND(F.lit(1))
    else:
        raise ValueError(hash_family)
    bit_sums = [
        F.sum(
            F.when(F.col("t").isNull(), F.lit(0))
            .when(bit(i) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    sh = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(term, i)
        sh = term if sh is None else sh.bitwiseOR(term)
    return agg.select(F.col("id").alias(id_col), sh.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       bits: int = 64, n_blocks: int = 4,
                       hash_family: str = "xxhash64",
                       exact_prepass: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using
    the block pigeonhole trick: split the hash into ``n_blocks`` equal
    blocks; any pair within distance < n_blocks shares ≥1 exact block →
    equi-join per block, then verify with bit_count(xor). (With
    max_hamming ≥ n_blocks the candidate rule is a recall-trading
    heuristic, not a guarantee — callers pick the trade.)

    ``exact_prepass`` (default on): byte-identical docs collapse to the
    min-id representative first and come back as (rep, member,
    hamming 0) star edges — O(cluster) not O(cluster²) output for exact
    duplicate clusters (same rationale as :func:`minhash_lsh_pairs`)."""
    assert bits % n_blocks == 0, "n_blocks must divide bits"
    blk_w = bits // n_blocks
    blk_mask = (1 << blk_w) - 1
    star = None
    src = df
    if exact_prepass:
        reps, star = _exact_prepass(df, id_col, text_col)
        src = reps.withColumnRenamed("id", id_col).withColumnRenamed("__txt", text_col)
    sh = simhash(src, id_col, text_col, bits=bits, hash_family=hash_family)
    blocks = sh.select(
        F.col(id_col).alias("id"), "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftright("simhash", b * blk_w).bitwiseAND(F.lit(blk_mask)).alias("bv"),
                )
                for b in range(n_blocks)
            ])
        ).alias("bb"),
    ).select("id", "simhash", "bb.blk", "bb.bv")
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(b, on=["blk", "bv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    out = pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    if star is not None:
        out = out.unionByName(
            star.withColumn("hamming", F.lit(0).cast(out.schema["hamming"].dataType)))
    return out


# ------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 1,
                        threshold: float = 0.6,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram-set Jaccard over candidate pairs generated by a
    shared-ngram inverted-index join (a pair is a candidate iff it shares
    ≥1 n-gram — exact, no LSH approximation; heavier than MinHash but
    oracle-expressible in plain SQL).

    ``max_df`` — the doc-frequency filter (the hub-gram skew guard at
    scale): grams appearing in more than ``max_df`` docs are excluded
    from CANDIDATE GENERATION only. A gram shared by f docs fans out
    into O(f²) join rows, so one stopword-gram over a 100-TB corpus
    melts the inverted-index join; dropping hubs bounds the fan-out.
    Verification always uses the FULL gram sets (array_intersect on the
    per-doc arrays), so the reported jaccard stays exact — only pairs
    whose every shared gram is a hub can be missed. None = fully exact.

    Cache lifetime: the gram-set base frame is persisted (inverted index
    and verify join both read it); the caller owns it — call
    :func:`hipipe_spark.operators.core.release_cached` on the result
    after materializing.
    """
    base = df.select(F.col(id_col).alias("id"),
                     word_ngrams(F.col(text_col), n).alias("gs"))
    base = base.persist()
    grams = base.select("id", F.explode("gs").alias("g"))
    if max_df is not None:
        # word_ngrams arrays are distinct per doc → count(*) = doc freq
        hubs = (grams.groupBy("g").agg(F.count("*").alias("df"))
                .filter(F.col("df") > max_df).select("g"))
        grams = grams.join(F.broadcast(hubs), on="g", how="left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    cand = (
        a.join(b, on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = _with_sets(cand, base, "gs")
    from hipipe_spark.operators.core import register_cached
    return register_cached(
        pairs.select("id_a", "id_b",
                     _jaccard(F.col("gs_a"), F.col("gs_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        base,
    )


def ngram_jaccard_prefix_pairs(df: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text", n: int = 1,
                               threshold: float = 0.6) -> DataFrame:
    """Exact n-gram Jaccard join with PREFIX FILTERING — identical
    output to :func:`ngram_jaccard_pairs` (same exact full-set verify),
    but the inverted index holds only each document's rarest-gram
    prefix instead of every gram, so the candidate join's fan-out is
    bounded WITHOUT the recall risk of ``max_df``.

    The prefix-filtering principle (public: Chaudhuri et al., SSJoin
    ICDE'06; Xiao et al., PPJoin WWW'08): sort every gram set by one
    global total order and index only the first
    ``|x| − ⌈t·|x|⌉ + 1`` grams of each document. Any pair with
    J ≥ t must overlap by ≥ ⌈t·max(|x|,|y|)⌉ grams, and two sets whose
    overlap is ≥ α must collide within their (size − α + 1)-prefixes —
    so the pruned index is still COMPLETE. With the canonical order =
    ascending document frequency, hub grams (stopwords, boilerplate)
    sort LAST and almost never enter a prefix: the O(f²) hub fan-out
    that melts the plain inverted index at corpus scale never reaches
    the join. A length filter (J ≥ t ⇒ min·≥·t·max sizes) prunes the
    survivors further before the exact verify.

    Cost shape at scale: one gram doc-frequency agg (map-side
    combinable), one shuffle to rank grams within each doc
    (window over the doc key — narrow groups), then the candidate
    equi-join on the ~(1−t)·|x| prefix grams only. For t=0.8 the
    index is 5× smaller and hub-free; the verify join is unchanged.

    Cache lifetime: caller releases via ``release_cached``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    base = df.select(F.col(id_col).alias("id"),
                     word_ngrams(F.col(text_col), n).alias("gs"))
    base = base.persist()
    grams = base.select(
        "id", F.size("gs").alias("sz"), F.explode("gs").alias("g"))
    # global canonical order: ascending doc frequency, gram tie-break
    # (word_ngrams sets are distinct per doc -> count(*) = doc freq)
    dfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    ranked = (grams.join(dfreq, on="g")
              .select("id", "g", "sz", F.row_number().over(w).alias("pos")))
    t = F.lit(float(threshold))
    # ε guards the float boundary (0.55*20 = 11.000000000000002 would
    # inflate the ceil and shorten the prefix — a completeness bug at
    # exact-threshold pairs); a slightly LONGER prefix is always safe
    eps = F.lit(1e-9)
    prefix_len = F.col("sz") - F.ceil(t * F.col("sz") - eps) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len)
    a = prefix.select(F.col("id").alias("id_a"), "g",
                      F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("id").alias("id_b"), "g",
                      F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, on="g")
        .filter((F.col("id_a") < F.col("id_b"))
                # length filter: J >= t forces min size >= t * max size
                # (same ε: keep exact-boundary pairs)
                & (F.least("sz_a", "sz_b").cast("double")
                   >= t * F.greatest("sz_a", "sz_b") - eps))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = _with_sets(cand, base, "gs")
    from hipipe_spark.operators.core import register_cached
    return register_cached(
        pairs.select("id_a", "id_b",
                     _jaccard(F.col("gs_a"), F.col("gs_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        base,
    )


def ngram_containment_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 1,
                            threshold: float = 0.8,
                            max_df: int | None = None) -> DataFrame:
    """Asymmetric n-gram containment: C(A→B) = |A ∩ B| / |A|. The
    quote/snippet detector Jaccard misses — a 100-gram doc fully pasted
    into a 10,000-gram doc has jaccard ≈ 0.01 but containment 1.0.

    Same candidate generation as :func:`ngram_jaccard_pairs` (inverted-
    index equi-join, optional ``max_df`` hub-gram guard bounding the
    O(f²) fan-out, FULL-set verify so reported values stay exact).
    Emits one row per candidate pair (id_a < id_b) with BOTH directions
    ``c_a_in_b`` / ``c_b_in_a``; kept when either direction reaches
    ``threshold``. Empty-gram docs (|A| = 0) yield containment 0.

    Cache lifetime: caller releases via ``release_cached``, as with the
    jaccard variant."""
    base = df.select(F.col(id_col).alias("id"),
                     word_ngrams(F.col(text_col), n).alias("gs"))
    base = base.persist()
    grams = base.select("id", F.explode("gs").alias("g"))
    if max_df is not None:
        hubs = (grams.groupBy("g").agg(F.count("*").alias("df"))
                .filter(F.col("df") > max_df).select("g"))
        grams = grams.join(F.broadcast(hubs), on="g", how="left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    cand = (
        a.join(b, on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = _with_sets(cand, base, "gs")
    inter = F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
    sa = F.size("gs_a").cast("double")
    sb = F.size("gs_b").cast("double")
    from hipipe_spark.operators.core import register_cached
    return register_cached(
        pairs.withColumn("c_a_in_b",
                         F.when(sa > 0, inter / sa).otherwise(F.lit(0.0)))
        .withColumn("c_b_in_a",
                    F.when(sb > 0, inter / sb).otherwise(F.lit(0.0)))
        .select("id_a", "id_b", "c_a_in_b", "c_b_in_a")
        .filter((F.col("c_a_in_b") >= threshold)
                | (F.col("c_b_in_a") >= threshold)),
        base,
    )


# ------------------------------------------- dedup clusters (components)
def connected_components(pairs: DataFrame, nodes: DataFrame,
                         a_col: str = "id_a", b_col: str = "id_b",
                         node_col: str = "id", max_iter: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs by min-label
    propagation: every node starts labeled with itself; each round every
    node takes the min of its own label and its neighbors' labels;
    fixpoint after O(component diameter) rounds (near-dup clusters are
    shallow — diameter is small in practice). Each round is one
    hash-join + one groupBy — fully distributed, no driver data beyond
    the convergence counter; lineage truncated by localCheckpoint so
    plans stay flat at high iteration counts.

    Output: (node, component) where component = min node id reachable.
    Nodes absent from ``pairs`` are their own singleton component.
    """
    import warnings

    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))).distinct()
    edges = edges.persist()
    labels = nodes.select(F.col(node_col).alias("node")) \
        .distinct().withColumn("component", F.col("node"))
    changed = 0
    for _ in range(max_iter):
        nb = (edges.join(labels, edges.dst == labels.node)
              .groupBy("src").agg(F.min("component").alias("nb_min")))
        new = (labels.join(nb, labels.node == nb.src, "left")
               .select(F.col("node"),
                       F.least(F.col("component"),
                               F.coalesce(F.col("nb_min"), F.col("component"))
                               ).alias("component")))
        new = new.localCheckpoint(eager=True)
        changed = (new.alias("n").join(labels.alias("o"), "node")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .count())
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # Unconverged labels would silently split clusters (a chain with
        # diameter > max_iter) — make that visible instead of wrong.
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — rounds "
            "needed = component diameter", RuntimeWarning)
    return labels


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   a_col: str = "id_a", b_col: str = "id_b",
                   keep_by: str | None = None,
                   keep_order: str = "desc") -> DataFrame:
    """Corpus-level near-dup removal: cluster the candidate pairs into
    components, keep ONE canonical doc per component. Output:
    (doc_id, component, keep).

    ``keep_by=None`` (default): canonical = min id (zero extra cost —
    the component label IS the min id).

    ``keep_by=<column of df>``: canonical = the cluster member with the
    best value of that column (``keep_order="desc"`` = highest wins,
    e.g. a quality score; ``"asc"`` = lowest, e.g. a spam score), ties
    broken by min id — what production near-dedup actually wants: keep
    the BEST copy, not the one with the smallest id. Costs one extra
    shuffle on the component key; partitions are cluster-sized (the
    exact-dup prepass upstream keeps giant clusters collapsed)."""
    comp = connected_components(pairs, df.select(id_col), a_col, b_col,
                                node_col=id_col)
    base = comp.select(F.col("node").alias(id_col), "component")
    if keep_by is None:
        return base.withColumn("keep", F.col(id_col) == F.col("component"))
    if keep_order not in ("desc", "asc"):
        raise ValueError(f"keep_order must be desc/asc, got {keep_order!r}")
    q = F.col("__q").desc() if keep_order == "desc" else F.col("__q").asc()
    w = Window.partitionBy("component").orderBy(q, F.col(id_col).asc())
    return (
        base.join(df.select(id_col, F.col(keep_by).alias("__q")), id_col)
        .withColumn("keep", F.row_number().over(w) == 1)
        .drop("__q")
    )


# ------------------------------------------------- embedding near-dup
def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side:
    zip_with product + aggregate sums."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", threshold: float = 0.9,
                         n_planes: int = 8, seed: int = 7,
                         brute_force: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicates.

    Scale path: random-hyperplane LSH — sign-bit sketch over ``n_planes``
    fixed hyperplanes (deterministic numpy seed), equi-join on the sketch
    bucket, cosine-verify within buckets. Only pairs whose angle is small
    land in the same bucket with high probability.

    ``brute_force=True``: full O(n²) self-join — the small-scale oracle.
    """
    import numpy as np

    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("vec"))
    if brute_force:
        a, b = v.alias("a"), v.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    else:
        dim = len(df.select(vec_col).first()[0])
        rng = np.random.RandomState(seed)
        planes = rng.randn(n_planes, dim)
        sketch = None
        for i in range(n_planes):
            plane = F.array(*[F.lit(float(x)) for x in planes[i]])
            dot = F.aggregate(F.zip_with("vec", plane, lambda x, y: x * y),
                              F.lit(0.0), lambda acc, x: acc + x)
            bit = F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            term = F.shiftleft(bit, i)
            sketch = term if sketch is None else sketch.bitwiseOR(term)
        v = v.withColumn("bucket", sketch)
        a, b = v.alias("a"), v.alias("b")
        pairs = a.join(b, on="bucket").filter(F.col("a.id") < F.col("b.id"))
    out = pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        cosine_sim(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
    )
    return out.filter(F.col("cosine") >= threshold)


# ------------------------------------------------- fuzzy token matching
def deletion_neighborhood(col: Column) -> Column:
    """The word plus every single-character-deletion variant, distinct.

    Two strings within Levenshtein distance 1 ALWAYS share a key in
    each other's neighborhood (substitution at i → both delete i;
    insertion/deletion → the longer one's delete equals the shorter),
    so joining on these keys is a COMPLETE candidate generator for
    distance ≤ 1 — the SymSpell / FastSS blocking scheme, here as pure
    JVM expressions (index sequence + substr, no Python). It is not
    exact: "ab" and "ba" share keys at distance 2, hence the verify
    join in :func:`fuzzy_token_pairs`.
    """
    variants = F.transform(
        _idx_1_to(F.length(col)),
        lambda i: F.concat(col.substr(F.lit(1), i - 1),
                           col.substr(i + 1, F.length(col))))
    return F.array_distinct(F.concat(F.array(col), variants))


def fuzzy_token_pairs(df: DataFrame, text_col: str = "text",
                      min_len: int = 4, min_count: int = 1,
                      ndigits: int = 6) -> DataFrame:
    """Typo candidate mining: pairs of distinct corpus tokens within
    Levenshtein distance 1, with occurrence counts and the frequency
    ratio that separates typo→correction pairs (rare variant of a
    frequent word) from genuine inflection pairs.

    Output: ``word_a < word_b, n_a, n_b, dist, freq_ratio`` where
    ``freq_ratio = max(n) / min(n)``.

    Plan, scale-first: the corpus collapses to its DISTINCT vocabulary
    first (one map-side-combinable count agg — Heaps'-law sized, ≪
    corpus), the deletion-neighborhood explode is O(word_len) keys per
    VOCAB entry, the equi-join on key touches only words sharing a
    variant, and the Levenshtein verify runs on candidates only. No
    all-pairs stage anywhere; contrast a naive cross-join at 1e7 vocab
    = 1e14 pairs vs ~1e8 candidate keys here. ``min_len`` keeps
    ultra-short tokens (whose neighborhoods collide massively and
    whose distance-1 matches are meaningless) out of the index;
    ``min_count`` prunes hapax noise before the explode.
    """
    vocab = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
          .filter((F.length("w") >= min_len) & (F.col("n") >= min_count))
    )
    keyed = vocab.select(
        "w", "n", F.explode(deletion_neighborhood(F.col("w"))).alias("k"))
    a = keyed.select(F.col("k"), F.col("w").alias("word_a"),
                     F.col("n").alias("n_a"))
    b = keyed.select(F.col("k"), F.col("w").alias("word_b"),
                     F.col("n").alias("n_b"))
    cand = (a.join(b, "k")
             .filter(F.col("word_a") < F.col("word_b"))
             .select("word_a", "word_b", "n_a", "n_b")
             .distinct())
    dist = F.levenshtein("word_a", "word_b")
    return (cand.withColumn("dist", dist)
                .filter(F.col("dist") <= 1)
                .select(
                    "word_a", "word_b",
                    F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"),
                    F.col("dist").cast("int").alias("dist"),
                    F.round(F.greatest("n_a", "n_b").cast("double")
                            / F.least("n_a", "n_b"), ndigits)
                     .alias("freq_ratio")))


# ------------------------------------------------- incremental MinHash
def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    n_hashes: int = 32,
    shingle: str = "char",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The storable side of incremental near-dedup: ``(id, sh, sig)``
    per document. Write this once (SnapshotStore / Iceberg) and each
    ingest delta joins against it via
    :func:`minhash_lsh_pairs_incremental` — the corpus is scanned, but
    never re-shingled row-by-row against the delta and never shuffled.
    Parameters must match the incremental call."""
    return _minhash_base(df, id_col, text_col, shingle_k, n_hashes, shingle,
                         hash_family, exact_prepass=False)[0]


def minhash_lsh_pairs_incremental(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float | None = 0.8,
    shingle: str = "char",
    hash_family: str = "xxhash64",
    exact_prepass: bool = True,
) -> DataFrame:
    """Near-dup pairs of an ingest DELTA against an indexed corpus
    (:func:`minhash_index`) plus within the delta itself — the
    operational mode a 10^12-doc corpus runs in daily, where
    re-running :func:`minhash_lsh_pairs` over corpus+delta would
    re-shuffle the corpus for a 0.01% addition.

    Output: ``(id_a, id_b, jaccard)`` with ``id_a < id_b``; every pair
    has >= 1 delta member. Ids must be globally unique across
    index + delta.

    Scale shape (delta << corpus is the contract):

    1. the delta is shingled/signed once and persisted (it is read by
       its own band explode, the self-join, and two verify joins);
    2. corpus band keys are a NARROW map over the index's ``sig``
       column (no shuffle, no re-shingling); the delta band table is
       BROADCAST to it, so the corpus-vs-delta candidate join is
       shuffle-free on the corpus side;
    3. verify fetches corpus shingle sets by broadcasting the
       (bounded) candidate id list into the index scan — again no
       corpus shuffle. Total corpus cost per delta: one scan.

    ``exact_prepass`` collapses byte-identical DELTA docs (star
    edges), same semantics as :func:`minhash_lsh_pairs`. Delta docs
    byte-identical to CORPUS docs need no special casing: equal text
    gives equal signatures, which collide in every band and verify at
    jaccard 1.0.
    """
    nb, star = _minhash_base(new_docs, id_col, text_col, shingle_k, n_hashes,
                             shingle, hash_family, exact_prepass)
    nb = nb.persist()
    new_banded = _banded(nb, n_hashes, bands, hash_family)
    idx_banded = _banded(index, n_hashes, bands, hash_family)  # narrow map

    cand_nc = (idx_banded.alias("c")
               .join(F.broadcast(new_banded.alias("n")), on=["band", "bh"])
               .filter(F.col("c.id") != F.col("n.id"))
               .select(F.least(F.col("c.id"), F.col("n.id")).alias("id_a"),
                       F.greatest(F.col("c.id"), F.col("n.id")).alias("id_b"),
                       F.col("c.id").alias("cid"), F.col("n.id").alias("nid"))
               .dropDuplicates(["id_a", "id_b"]))
    idx_sh = index.select("id", "sh")
    new_sh = nb.select("id", "sh")
    ver_nc = (idx_sh.join(F.broadcast(cand_nc), idx_sh.id == F.col("cid"))
              .select("id_a", "id_b", "nid", F.col("sh").alias("sh_c"))
              .join(new_sh.select(F.col("id").alias("nid"),
                                  F.col("sh").alias("sh_n")), "nid")
              .select("id_a", "id_b", F.col("sh_c").alias("sh_a"),
                      F.col("sh_n").alias("sh_b")))
    ver_nn = _with_sets(_band_self_pairs(new_banded), new_sh, "sh")
    both = ver_nc.unionByName(ver_nn)
    out = _verified(both.dropDuplicates(["id_a", "id_b"]),
                    jaccard_threshold, star)
    from hipipe_spark.operators.core import register_cached
    return register_cached(out, nb)


def dup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates
    (:func:`dedup_clusters`), keep every copy but weight it
    1/cluster_size — the training-loss reweighting that preserves
    coverage while removing duplication bias (each semantic document
    contributes total weight 1 regardless of how many copies crawled
    in).

    Returns ``(doc_id, cluster_size, weight)`` for EVERY input doc
    (singletons get cluster_size 1, weight 1.0).

    Plan: connected components over the pair edges (min-label
    propagation, component-sized shuffles), one component-size
    aggregate, broadcast-join back — the corpus shuffles once on the
    component key.
    """
    ids = df.select(F.col(id_col).alias("id")).distinct()
    comp = connected_components(pairs, ids, max_iter=max_iter)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (comp.join(F.broadcast(sizes), "component")
            .select(F.col("node").alias(id_col), "cluster_size",
                    F.round(F.lit(1.0) / F.col("cluster_size"), 6)
                     .alias("weight")))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    max_len: int = 240,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003) — the MOSS selection scheme, complementing the MinHash /
    SimHash / n-gram tiers with a LOCAL guarantee: any shared substring
    of length >= w + k - 1 contributes at least one common fingerprint,
    so matches cannot be missed by unlucky sampling (MinHash's failure
    mode on short overlaps).

    Per document: lowercase, cap at ``max_len`` chars, hash every
    char ``k``-gram (polynomial-31 fold over codepoints mod 2^31 +
    the LCG double-round mix — the
    :func:`~hipipe_spark.functions.hashing.det_hash_str_i64` family,
    bit-reproducible in DuckDB), then over every window of ``w``
    consecutive k-gram hashes select the minimum, ties broken by
    RIGHTMOST position (the paper's rule). Tie-breaking packs
    (hash, position) into one int64: ``enc = h * 256 + (255 - pos)``
    — min(enc) is (min hash, max pos) in a single comparison; exact
    because h < 2^31 and pos < 256 (enforced: ``max_len <= 255``).

    Implementation: one vectorized numpy pass per Arrow batch, run by
    ``mapInArrow`` — the batch stays Arrow end to end, with no pandas
    conversion either way and ids passed through in their own type.
    The batch's normalised texts are joined into ONE flat codepoint
    array (a UTF-32 view gives exactly the ``ord`` values); the k-gram
    hash, the mix, the packed key and the sliding-``w`` minimum each
    run once over it, with positions local to each document. A
    doc-boundary mask keeps only windows that start at local position
    ``<= len - k - w + 1``, so no k-gram or window spans two documents.
    The per-document DISTINCT set is one ``np.unique`` over packed
    ``row * 2^31 + fp`` keys, which also orders the output by
    (row, fp); ids are gathered with Arrow ``take``. Every intermediate
    is exact int64 (below 2^62). An all-JVM formulation with nested
    higher-order array functions was rejected: Spark interprets them
    and re-evaluates their input chain per element. The scale shape: a
    narrow, embarrassingly-parallel map over the corpus scan — no
    shuffle; only (id, fp) pairs leave the stage.

    Returns ``(id_col, fp)`` — the DISTINCT fingerprint hashes per
    document. Documents shorter than ``k + w - 1`` chars produce no
    complete window and drop out (they cannot share a guaranteed
    match anyway).
    """
    if max_len > 255:
        raise ValueError("max_len must be <= 255 (position packs into "
                         "8 bits of the selection key)")
    kk, ww, cap = int(k), int(w), int(max_len)
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInArrow(
        lambda it: (_winnow_batch(rb, kk, ww, cap) for rb in it),
        f"{id_col} {id_type}, fp long")


def _winnow_batch(rb, k: int, w: int, cap: int):
    """Winnowing fingerprints of one Arrow batch ``(id, text)`` as an
    Arrow batch ``(id, fp)``, sorted by (row, fp)."""
    import numpy as np
    import pyarrow as pa

    from ..functions.hashing import _A, _C, _M
    texts = [("" if t is None else t).lower()[:cap]
             for t in rb.column(1).to_pylist()]
    lens = np.fromiter(map(len, texts), np.int64, len(texts))
    n_win = int(lens.sum()) - k - w + 2       # flat window starts
    if n_win > 0:
        codes = np.frombuffer("".join(texts).encode("utf-32-le"),
                              np.uint32).astype(np.int64)
        n_gram = n_win + w - 1
        h = np.zeros(n_gram, np.int64)
        for j in range(k):
            h = (h * 31 + codes[j:j + n_gram]) % _M
        h = ((h * _A + _C) % _M * _A + _C) % _M
        row = np.repeat(np.arange(len(texts)), lens)[:n_gram]
        pos = np.arange(n_gram) - (np.cumsum(lens) - lens)[row]
        enc = h * 256 + (254 - pos)               # 255 - (pos + 1)
        mins = enc[:n_win].copy()
        for j in range(1, w):
            np.minimum(mins, enc[j:j + n_win], out=mins)
        row = row[:n_win]
        keep = pos[:n_win] <= lens[row] - k - w + 1
        key = np.unique((row[keep] << 31) | (mins[keep] >> 8))
        row, fp = key >> 31, key & (_M - 1)
    else:
        row = fp = np.zeros(0, np.int64)
    return pa.record_batch([rb.column(0).take(pa.array(row)), pa.array(fp)],
                           names=[rb.schema.names[0], "fp"])


def winnow_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from :func:`winnow_fingerprints`
    output: documents sharing fingerprints, scored by overlap
    coefficient ``n_shared / min(n_a, n_b)`` (the containment-style
    score — robust when one doc quotes a fragment of another).

    ``max_df`` optionally excludes hub fingerprints appearing in more
    than that many documents before the self-join (boilerplate
    substrings would otherwise fan out quadratically — the same
    max-df policy as :func:`ngram_jaccard_pairs`; lossy for pairs
    whose ONLY overlap is boilerplate, which is the point). The join
    is an equi-join on the 8-byte fingerprint — bucketed, never
    all-pairs.

    Returns ``(id_a, id_b, n_shared, n_a, n_b, sim)`` with
    ``sim >= threshold``, ``id_a < id_b``.
    """
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    kept = fps
    if max_df is not None:
        hubs = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > max_df).select("fp"))
        kept = fps.join(hubs, "fp", "left_anti")
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    shared = (a.join(b, "fp")
              .where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("n_fp").alias("n_b"))
    sim = F.round(F.col("n_shared")
                  / F.least(F.col("n_a"), F.col("n_b")), 6)
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("sim", sim)
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "n_shared", "n_a", "n_b", "sim"))
