"""Deduplication operators (north-star LLM-data ops): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design: every variant shuffles *hashes/signatures*, never document
text. Exact dedup groups on a 128-bit content hash; MinHash-LSH explodes
per-band bucket keys (b rows per doc, b≈8-16) and self-joins only inside
buckets; SimHash buckets on rotated prefixes. Candidate verification is the
only O(pair) step and runs on the tiny candidate set.

The two persistent index families here (MinHash text, Hamming media)
and the IVF/PQ embedding family in operators/similarity.py share one
retraction mechanism (r12, operators/_tombstones.py): rows appended
from a crawl delivery carry a generation tag, a re-crawled shard
tombstones via ONE rule row, probes live-filter through a broadcast
anti-join, and compaction purges physically.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F

from georiva_spark.operators import _index_table
from georiva_spark.operators._retention import persist_bounded
from georiva_spark.operators.textops import portable_hash64, tokens


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy; keep the smallest doc_id per content
    group. Shuffle key = md5(text), so payload per reducer row is tiny."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def shingle_hashes(docs: DataFrame, n: int = 3, text_col: str = "text",
                   portable: bool = False) -> DataFrame:
    """Token n-gram shingles → 64-bit hashes (distinct per doc).
    `portable=True` uses the md5-derived 60-bit hash a DuckDB oracle can
    reproduce; default xxhash64 is the fast JVM path."""
    hasher = portable_hash64 if portable else F.xxhash64
    toks = tokens(F.col(text_col))
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: hasher(F.concat_ws(" ", F.slice(toks, i + 1, n))))
    return docs.select("doc_id", F.array_distinct(sh).alias("shingles"))


def minhash_coeffs(num_hashes: int = 64) -> tuple[np.ndarray, np.ndarray]:
    """The (a, b) universal-hash coefficients, exported so the DuckDB
    oracle SQL can inline the identical constants."""
    rng = np.random.RandomState(42)
    a = (rng.randint(1, 1 << 62, size=num_hashes).astype(np.uint64) << 1) | 1
    b = rng.randint(1, 1 << 62, size=num_hashes).astype(np.uint64)
    return a, b


_MIX1 = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xC2B2AE3D27D4EB4F)


def _flatten(series: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """pd.Series of int64 lists → (flat uint64 view, starts, lens).
    A null list (null text upstream) flattens as empty — the owning
    kernels emit the all-zero code/signature, the empty-doc
    convention, instead of crashing the stage."""
    arrs = [np.asarray(s if s is not None else [], dtype=np.int64)
            for s in series]
    lens = np.fromiter((x.size for x in arrs), np.int64, len(arrs))
    flat = (np.concatenate(arrs) if lens.sum()
            else np.empty(0, np.int64)).view(np.uint64)
    starts = np.zeros(len(arrs), dtype=np.int64)
    if len(arrs) > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    return flat, starts, lens


def _segment_minhash(flat: np.ndarray, starts: np.ndarray,
                     lens: np.ndarray, nshingles: np.ndarray,
                     a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-doc minhash over a flat shingle buffer: for hash j, min of
    (a_j·s + b_j mod 2^64) over each doc's first `nshingles` positions.
    One 1-D vectorized pass per hash (cache-resident, ~3× faster than a
    2-D matmul shape, ~30× than a per-doc Python loop). Docs with zero
    shingles come back as all-zero signatures (legacy contract)."""
    N, T = len(starts), flat.size
    res = np.zeros((N, num := len(a)), dtype=np.uint64)
    if T == 0:
        return res.view(np.int64)
    pos = np.arange(T, dtype=np.int64) - np.repeat(starts, lens)
    invalid = pos >= np.repeat(nshingles, lens)
    idx = np.minimum(starts, T - 1)
    full = np.uint64(0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        for j in range(num):
            v = flat * a[j] + b[j]
            v[invalid] = full
            res[:, j] = np.minimum.reduceat(v, idx)
    res[nshingles == 0] = 0
    return res.view(np.int64)


def minhash_signatures(docs: DataFrame, num_hashes: int = 64, n: int = 3,
                       text_col: str = "text",
                       portable: bool = False) -> DataFrame:
    """MinHash signatures: sig[j] = min over shingles of (a_j·s + b_j) in
    uint64, evaluated batch-vectorized in numpy (one 1-D pass per hash
    over the whole Arrow batch via minimum.reduceat segment-mins).

    Spark's array higher-order functions are interpreted (no whole-stage
    codegen), so a k×|shingles| nested transform costs minutes at scale —
    the Arrow-batched pandas UDF is the documented exception where the
    UDF *is* the fast path. The default (non-portable) path goes further:
    the JVM ships per-TOKEN xxhash64 arrays (one interpreted transform,
    no per-shingle string building — string shingling was ~50 s of the
    2M-doc smoke) and the n-gram combine happens inside the same numpy
    pass via shifted mixing. ``portable=True`` keeps md5-string shingles
    so the DuckDB oracle reproduces signatures bit-identically.
    """
    a, b = minhash_coeffs(num_hashes)

    if portable:
        @F.pandas_udf("array<long>")
        def _sig(shingles: pd.Series) -> pd.Series:
            flat, starts, lens = _flatten(shingles)
            return pd.Series(
                list(_segment_minhash(flat, starts, lens, lens, a, b)))

        sh = shingle_hashes(docs, n=n, text_col=text_col, portable=True)
        return sh.select("doc_id", _sig(F.col("shingles")).alias("signature"))

    @F.pandas_udf("array<long>")
    def _sig_tok(token_hashes: pd.Series) -> pd.Series:
        flat, starts, lens = _flatten(token_hashes)
        # n-gram combine on the flat buffer: shingle[i] = mix of the n
        # token hashes starting at i. Positions whose window crosses a
        # doc boundary are garbage and masked off by nshingles; docs
        # shorter than n keep ONE shingle folding their whole token list
        # (matches the string path's "one shingle for short docs").
        c = flat.copy()
        with np.errstate(over="ignore"):
            for step in range(1, n):
                c = (c ^ (np.roll(flat, -step) * _MIX1)) * _MIX2
        nshingles = np.where(lens >= n, lens - (n - 1),
                             np.minimum(lens, 1))
        shorts = np.flatnonzero((lens > 0) & (lens < n))
        with np.errstate(over="ignore"):
            for d in shorts:                    # rare tail case
                seg = flat[starts[d]:starts[d] + lens[d]]
                acc = seg[0]
                for v in seg[1:]:
                    acc = (acc ^ (v * _MIX1)) * _MIX2
                c[starts[d]] = acc
        return pd.Series(
            list(_segment_minhash(c, starts, lens, nshingles, a, b)))

    toks = tokens(F.col(text_col))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    return docs.select("doc_id", _sig_tok(th).alias("signature"))


def _band_buckets(num_hashes: int, bands: int,
                  sig_col: str = "signature") -> "F.Column":
    """The LSH band→bucket key array shared by the pair miner and the
    persistent index (write/append/probe MUST derive identical keys —
    one definition, so code drift cannot silently break an existing
    index). One parsed SQL string (fastexpr policy, r13) — the
    per-element py4j construction was ~0.2 s per call."""
    from georiva_spark.functions.fastexpr import ident
    rows_per_band = num_hashes // bands
    sc = ident(sig_col)
    return F.expr("array(" + ", ".join(
        "xxhash64(" + str(b) + ", " + ", ".join(
            f"element_at({sc}, {b * rows_per_band + i + 1})"
            for i in range(rows_per_band)) + ")"
        for b in range(bands)) + ")")


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5, n: int = 3,
                      text_col: str = "text",
                      portable: bool = False) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: band the signature, bucket-join,
    verify estimated Jaccard ≥ threshold.

    Shape: signatures are computed ONCE and persisted (they feed the
    banding and both sides of the verification join — without the persist
    the UDF lineage re-runs three times), the band explode ships only
    (doc_id, band, bucket) keys — never the 64-long signature array —
    and the candidate pairs rejoin the signature table by doc_id for
    verification. Shuffle = band-bucket keys + candidate ids; the
    quadratic step is confined to same-bucket candidates (AQE skew-split
    covers megabuckets). Returns (doc_a, doc_b, est_jaccard), doc_a <
    doc_b. At 100 TB the persisted signature table is the standard
    materialize-the-sketch step (write it once, reuse across passes).
    The cache is deliberately left registered (Spark's plan-matching
    cache lets repeat calls on the same corpus reuse it; LRU eviction
    bounds it — the table is 64 longs per doc, ~3 orders smaller than
    the corpus text).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes=num_hashes, n=n,
                             text_col=text_col, portable=portable
                             ).persist(StorageLevel.MEMORY_AND_DISK)
    # band buckets as multi-arg xxhash64 over element_at positions: stays
    # inside whole-stage codegen (a concat_ws-of-strings bucket was 8×
    # slower — 32M interpreted string builds at 2M docs)
    bucket_arr = _band_buckets(num_hashes, bands)
    banded = sig.select(
        "doc_id", F.posexplode(bucket_arr).alias("band", "bucket"))
    cand = (banded.alias("l").join(banded.alias("r"), ["band", "bucket"])
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("doc_a"),
                    F.col("r.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    a = sig.select(F.col("doc_id").alias("doc_a"),
                   F.col("signature").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"),
                   F.col("signature").alias("sig_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: (x == y).cast("int")),
                           lambda v: v == 1)).cast("double")
           / F.lit(float(num_hashes)))
    return (cand.join(a, "doc_a").join(b, "doc_b")
                .select("doc_a", "doc_b", est.alias("est_jaccard"))
                .where(F.col("est_jaccard") >= threshold))


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iter: int = 25) -> DataFrame:
    """Connected components over a near-dup pair list via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): O(log² n) rounds, each round a
    bounded-key shuffle of (node, neighbor) edge rows — no adjacency
    list is ever materialized on a single node and nothing is collected
    to the driver except a per-round count+checksum.

    Returns (node, component) for every node appearing in ``pairs``,
    where component = the minimum node id in the node's component.

    100-TB shape: this is the standard last step of a dedup pipeline
    (MinHash pairs → components → keep one doc per component). Naive
    min-label propagation needs O(diameter) rounds — a pathological
    duplicate chain makes that thousands; the star algorithm contracts
    tree height geometrically. Lineage is truncated per round with
    localCheckpoint (a cluster deployment would use checkpoint() to
    durable storage for executor-loss tolerance; the algorithm is
    identical), and convergence is detected by an edge-set checksum, a
    single tiny action per round.
    """
    # long node ids shuffle as 8-byte keys; STRING node ids pass
    # through uncast (hamming_groups' collision-free md5 surrogates —
    # min/greatest/least are deterministic on strings and the
    # component label is only ever a grouping key). The two id columns
    # must agree: casting a string side to long yields NULLs that the
    # u != v filter would silently drop — fail by name instead.
    from pyspark.sql.types import StringType
    ta = pairs.schema[a_col].dataType
    tb = pairs.schema[b_col].dataType
    if isinstance(ta, StringType) != isinstance(tb, StringType):
        raise ValueError(
            f"connected_components: {a_col} is {ta.simpleString()} but "
            f"{b_col} is {tb.simpleString()} — node id columns must "
            f"share a type (a mixed cast silently NULLs one side)")
    cast_to = ta if isinstance(ta, StringType) else "long"
    edges = (pairs.select(F.col(a_col).cast(cast_to).alias("u"),
                          F.col(b_col).cast(cast_to).alias("v"))
             .where(F.col("u") != F.col("v")))
    # lazy checkpoint (r13): the convergence checksum right below is
    # the materializing action, so the eager checkpoint's extra job
    # per round is folded into the checksum job (2 actions/round → 1)
    edges = (edges.select(F.greatest("u", "v").alias("u"),
                          F.least("u", "v").alias("v")).distinct()
             .localCheckpoint(eager=False))

    def _checksum(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h")
        ).collect()[0]
        return row["n"], row["h"]

    prev = _checksum(edges)
    for _ in range(max_iter):
        # large-star: attach every strictly-larger neighbor of u to the
        # minimum of u's closed neighborhood. Emitted edges are already
        # oriented (larger, smaller) since m <= u < v.
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        lmin = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m")))
        e1 = (sym.join(lmin, "u").where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v")).distinct())
        # small-star: edges oriented u > v, so every neighbor of u is
        # smaller; attach them (and u) to the minimum neighbor.
        smin = e1.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (e1.join(smin, "u")
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v"))
              .union(smin.select("u", F.col("m").alias("v")))
              .distinct().localCheckpoint(eager=False))
        cur = _checksum(e2)
        edges = e2
        if cur == prev:
            break
        prev = cur
    roots = edges.select(F.col("v").alias("node")).distinct() \
                 .join(edges.select(F.col("u").alias("node")), "node",
                       "left_anti")
    return (edges.select(F.col("u").alias("node"),
                         F.col("v").alias("component"))
            .union(roots.select("node", F.col("node").alias("component"))))


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Assign every document its near-dup cluster id (the minimum doc_id
    in its connected component over ``pairs``); documents in no pair are
    singleton clusters. ``is_canonical`` marks the one representative to
    keep — the reference pipeline's "collapse duplicates, keep first"
    step expressed over an arbitrary pair generator (exact, MinHash,
    n-gram Jaccard, or embedding near-dup)."""
    cc = connected_components(pairs)
    lab = cc.withColumnRenamed("node", id_col)
    return (docs.select(F.col(id_col).cast("long"))
            .join(lab, id_col, "left")
            .select(id_col,
                    F.coalesce("component", F.col(id_col)).alias("cluster_id"))
            .withColumn("is_canonical",
                        F.col("cluster_id") == F.col(id_col)))


def simhash(docs: DataFrame, text_col: str = "text",
            portable: bool = False) -> DataFrame:
    """64-bit SimHash over token hashes: per-bit majority vote (bit i
    set iff more hashes have bit i than not; ties → 0). Token hashing
    stays JVM-side (codegen md5/xxhash64); the 64-bit vote runs as an
    Arrow-batched numpy kernel — 64 cache-resident 1-D cumsum passes
    over the flat hash buffer, the same shape as minhash_signatures.
    The interpreted HOF formulation (64 bit_get aggregates per doc)
    cost 9-19 s for 5k docs at sf0.1; the kernel is ~20×.
    `portable=True` uses the md5-derived 60-bit hash (bits 60-63 then
    always vote 0) so the DuckDB oracle reproduces codes exactly."""
    hasher = portable_hash64 if portable else F.xxhash64
    toks = tokens(F.col(text_col))
    hashes = F.transform(F.array_distinct(toks), lambda t: hasher(t))

    @F.pandas_udf("long")
    def _vote(token_hashes: pd.Series) -> pd.Series:
        flat, starts, lens = _flatten(token_hashes)
        n = len(starts)
        ones = np.zeros((n, 64), dtype=np.int64)
        if flat.size:
            ends = starts + lens
            for i in range(64):
                col = ((flat >> np.uint64(i))
                       & np.uint64(1)).astype(np.int64)
                cs = np.concatenate(([0], np.cumsum(col)))
                ones[:, i] = cs[ends] - cs[starts]
        bits = (2 * ones) > lens[:, None]           # majority, tie -> 0
        w = np.uint64(1) << np.arange(64, dtype=np.uint64)
        return pd.Series((bits.astype(np.uint64) @ w).view(np.int64))

    return docs.select("doc_id", _vote(hashes).alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  text_col: str = "text",
                  portable: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``, via
    the pigeonhole band trick over the 64-bit codes (see
    hamming_pairs: distinct codes through the band join, identical
    codes pre-collapsed). Shuffle = band-bits keys over DISTINCT
    codes, k+1 rows per code; never all-pairs. Returns
    (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    codes = simhash(docs, text_col=text_col, portable=portable)
    return hamming_pairs(codes, "doc_id", "simhash",
                         max_hamming=max_hamming, bits=64,
                         out_a="doc_a", out_b="doc_b")


def _hamming_band_exprs(is_arr: bool, code_col: str, max_hamming: int,
                        bits: int, word_bits: int = 56,
                        caller: str = "hamming_pairs"):
    """ONE definition of the pigeonhole band keys and the exact
    Hamming verifier (over ``__ca``/``__cb``), shared by the
    in-memory pair miner AND the persistent Hamming index —
    write/append/probe must derive identical keys or an existing
    index silently stops finding pairs (the _band_buckets principle).
    Long codes band as shifted bit slices (long keys); array codes
    band as substrings of the hex-formatted word concatenation
    (string keys), with named guards for ragged/oversized words and
    degenerate band widths. Returns (bands_struct_exprs, ham_expr)."""
    k = max_hamming + 1
    if is_arr:
        if word_bits % 4:
            raise ValueError(
                f"{caller}: word_bits={word_bits} must be a "
                f"multiple of 4 (words are hex-formatted for banding)")
        # words of word_bits (< 64) non-negative bits, hex-formatted so
        # bands are substrings of the concatenated nibble string; any
        # disjoint nibble partition is a valid pigeonhole split.
        nw_word = word_bits // 4
        n_words = (bits + word_bits - 1) // word_bits
        hexc = F.concat(*[F.format_string(f"%0{nw_word}x",
                                          F.col(code_col)[i])
                          for i in range(n_words)])
        # a ragged code (wrong word count) would null the hex key and
        # the equi-join would silently DROP its pairs; an OVERSIZED
        # word (value >= 2^word_bits) widens its hex field and shifts
        # every later band's substring — both fail by name
        hexc = F.when(
            (F.size(F.col(code_col)) == n_words)
            & (F.length(hexc) == n_words * nw_word), hexc) \
            .otherwise(F.raise_error(F.concat(
                F.lit(f"{caller}: code needs {n_words} words of "
                      f"< 2^{word_bits} ({bits} bits / {word_bits}-bit "
                      f"words), got "),
                F.size(F.col(code_col)).cast("string"),
                F.lit(" words"))))
        nib_total = n_words * nw_word
        per = nib_total // k
        if per == 0:
            raise ValueError(
                f"{caller}: max_hamming={max_hamming} needs "
                f"{k} bands but the code has only {nib_total} nibbles")
        bands = [F.struct(
            F.lit(j).alias("band"),
            F.substring(hexc, j * per + 1,
                        (nib_total - j * per) if j == k - 1 else per)
            .alias("key")) for j in range(k)]
        ham = F.aggregate(
            F.zip_with(F.col("__ca"), F.col("__cb"),
                       lambda x, y: F.bit_count(x.bitwiseXOR(y))),
            F.lit(0), lambda acc, x: acc + x)
    else:
        w = bits // k
        if w == 0:
            raise ValueError(
                f"{caller}: max_hamming={max_hamming} needs "
                f"{k} bands but the code has only {bits} bits — every "
                f"band key would be empty (a full cartesian in disguise)")
        band_cols = []
        for j in range(k):
            b = F.shiftrightunsigned(F.col(code_col), j * w)
            if j < k - 1:          # top band keeps the remainder bits
                b = b.bitwiseAND(F.lit((1 << w) - 1))
            band_cols.append(b)
        bands = [F.struct(F.lit(j).alias("band"), b.alias("key"))
                 for j, b in enumerate(band_cols)]
        ham = F.bit_count(F.col("__ca").bitwiseXOR(F.col("__cb")))
    return bands, ham


def hamming_pairs(codes: DataFrame, id_col: str, code_col: str,
                  max_hamming: int = 3, bits: int = 64,
                  out_a: str = "id_a", out_b: str = "id_b",
                  word_bits: int = 56,
                  distinct_codes: bool = False,
                  max_exact_group: int | None = None) -> DataFrame:
    """Generic pigeonhole Hamming-pair mining over ANY code column —
    a single long (SimHash text codes, image dHashes) or an
    array<long> of non-negative ``word_bits``-bit words for codes
    longer than 63 bits (audio/video perceptual fingerprints, packed
    by multimodal._pack_bits_words).

    Split the ``bits``-bit code into ``max_hamming + 1`` disjoint
    bands — two codes within Hamming k MUST agree exactly on at least
    one band — bucket-join on (band_idx, band_bits), verify exact
    Hamming with bit_count(xor).

    Scale shape (the 100-TB design): **identical codes are
    pre-collapsed before banding** — the band self-join runs on
    DISTINCT codes only, so N items sharing one code (silence clips,
    black frames, boilerplate) contribute ONE row per band, not N,
    and the candidate `.distinct()` runs on code pairs (bounded by
    the code space), never on the id-pair space. Exact-duplicate
    members expand relationally afterwards: within-code pairs via an
    equi-self-join on the code, cross-code pairs via two equi-joins
    of the surviving code pairs back to the id table. Every join is
    an equi-join; nothing is ever all-pairs.

    Band key space per band is 2^(bits/(k+1)); keep codes >= 64 bits
    so it never degenerates (a 28-bit code would give 512 keys — a
    cartesian product in disguise at web scale).
    ``distinct_codes=True`` declares the input one-row-per-distinct-
    code (skips the pre-banding distinct — hamming_groups' case).

    QUADRATIC-OUTPUT HAZARD: the pair CONTRACT is inherently quadratic
    inside an identical-code group — M items sharing one code (black
    frames, silence clips) owe M·(M−1)/2 within-pairs regardless of
    how candidates are mined, so a 10 M-member group means 5·10¹³
    output rows. If the downstream decision is keep-one-drop-rest, use
    :func:`hamming_groups` (linear: per-item group labels, no pair
    list). ``max_exact_group`` is the named guard: when set, any
    exact-code group larger than it raises at execution time instead
    of silently expanding.

    An id may carry several codes (unioned shards, re-encodes): pairs
    are deduplicated on (a, b) keeping the MINIMUM Hamming distance
    across the id pair's code pairs, and an id never pairs with
    itself. Returns (out_a, out_b, hamming), a < b."""
    from pyspark.sql.types import ArrayType

    is_arr = isinstance(codes.schema[code_col].dataType, ArrayType)
    # the code table feeds FOUR plan branches (distinct, two expansion
    # sides, within self-join); without a persist an expensive upstream
    # (a mapInPandas fingerprint decode) re-executes per branch
    # dropDuplicates: a repeated (id, code) row (unioned shards) must
    # not double its pairs in the expansion joins
    codes = persist_bounded(
        codes.select(id_col, code_col).where(F.col(code_col).isNotNull())
        .dropDuplicates([id_col, code_col]),
        "hamming_pairs.codes")
    dc = (codes.select(code_col) if distinct_codes
          else codes.select(code_col).distinct())

    bands, ham = _hamming_band_exprs(is_arr, code_col, max_hamming,
                                     bits, word_bits)

    ex = (dc.select(code_col, F.explode(F.array(*bands)).alias("bk"))
          .select(code_col, "bk.band", "bk.key"))
    code_pairs = (ex.alias("l").join(ex.alias("r"), ["band", "key"])
                  .where(F.col(f"l.{code_col}") < F.col(f"r.{code_col}"))
                  .select(F.col(f"l.{code_col}").alias("__ca"),
                          F.col(f"r.{code_col}").alias("__cb"))
                  .select("__ca", "__cb", ham.alias("hamming"))
                  .where(F.col("hamming") <= max_hamming)
                  .distinct())

    if max_exact_group is not None:
        # named guard against an accidental quadratic expansion: the
        # group-size count rides the (already persisted) code table
        # through one window, and the within-join's constant raises by
        # name the moment an oversized group would start expanding
        gw = Window.partitionBy(code_col)
        codes = codes.withColumn("__gsz", F.count(F.lit(1)).over(gw))
        grd = F.when(
            F.col("l.__gsz") <= max_exact_group, F.lit(0)) \
            .otherwise(F.raise_error(F.concat(
                F.lit("hamming_pairs: an exact-code group has "),
                F.col("l.__gsz").cast("string"),
                F.lit(f" members (> max_exact_group={max_exact_group})"
                      " — its pair expansion is quadratic; use "
                      "hamming_groups for keep-one dedup"))))
    else:
        grd = F.lit(0)

    ida = codes.select(F.col(code_col).alias("__ca"),
                       F.col(id_col).alias("__ia"))
    idb = codes.select(F.col(code_col).alias("__cb"),
                       F.col(id_col).alias("__ib"))
    # an id carrying two near codes must not self-pair; the same id
    # pair reachable via several code pairs keeps its minimum Hamming
    cross = (code_pairs.join(ida, "__ca").join(idb, "__cb")
             .where(F.col("__ia") != F.col("__ib"))
             .select(F.least("__ia", "__ib").alias(out_a),
                     F.greatest("__ia", "__ib").alias(out_b),
                     F.col("hamming").cast("int").alias("hamming")))
    within = (codes.alias("l").join(codes.alias("r"), code_col)
              .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
              .select(F.col(f"l.{id_col}").alias(out_a),
                      F.col(f"r.{id_col}").alias(out_b),
                      (F.lit(0) + grd).cast("int").alias("hamming")))
    return (cross.unionByName(within)
            .groupBy(out_a, out_b)
            .agg(F.min("hamming").cast("int").alias("hamming")))


def hamming_groups(codes: DataFrame, id_col: str, code_col: str,
                   max_hamming: int = 3, bits: int = 64,
                   word_bits: int = 56) -> DataFrame:
    """Group-rollup companion to :func:`hamming_pairs` for
    duplicate-HEAVY corpora: → (id, group_id, group_size, exact_size)
    where group_id is the minimum id in the item's near-duplicate
    component (codes within ``max_hamming`` chained transitively) and
    exact_size counts items sharing the item's EXACT code.

    Why it exists: hamming_pairs' output is the pair list, which is
    inherently quadratic inside an identical-code group — at web
    scale one black-frame code shared by 10M clips means 5·10^13
    pairs no matter how cleverly they are mined. The keep-one-drop-
    rest dedup decision never needs the pairs: it needs each item's
    GROUP. This operator stays linear end-to-end: the band join and
    connected components run on DISTINCT codes only (pre-collapse),
    and items join their code's component by one equi-join.
    """
    from pyspark.sql.types import ArrayType

    # the code table feeds three branches here (distinct, item-tagging,
    # exact-size rollup) plus hamming_pairs' four — persist once so an
    # expensive upstream (fingerprint decode) runs once
    codes = persist_bounded(
        codes.select(id_col, code_col).where(F.col(code_col).isNotNull()),
        "hamming_groups.codes")
    # near pairs among DISTINCT codes (linear in the code space, not in
    # items) need a surrogate id per code for the CC node space: a long
    # code is its own surrogate (bijective, oracle-trivial); an array
    # code uses the FULL 128-bit md5 of its canonical "[w0, w1]" string
    # — collision-free at web scale (a 60-bit hash goes birthday-bound
    # at ~2^30 distinct codes, and a collision silently merges two
    # unrelated components). CC propagates string nodes uncast; the
    # component label is internal, so no oracle sees the surrogate.
    if isinstance(codes.schema[code_col].dataType, ArrayType):
        cid = F.md5(F.col(code_col).cast("string").cast("binary"))
    else:
        cid = F.col(code_col)
    dc = codes.select(code_col).distinct()
    tagged = dc.select(cid.alias("__cid"), code_col)
    cp = hamming_pairs(tagged, "__cid", code_col,
                       max_hamming=max_hamming, bits=bits,
                       out_a="__ca", out_b="__cb", word_bits=word_bits,
                       distinct_codes=True)
    comp = connected_components(cp.select("__ca", "__cb"),
                                a_col="__ca", b_col="__cb")
    withc = (codes.select(id_col, code_col, cid.alias("__cid"))
             .join(comp.withColumnRenamed("node", "__cid"),
                   "__cid", "left")
             .select(id_col, code_col,
                     F.coalesce("component", F.col("__cid"))
                     .alias("__comp")))
    grp = (withc.groupBy("__comp")
           .agg(F.min(id_col).alias("group_id"),
                F.count(F.lit(1)).alias("group_size")))
    exact = (codes.groupBy(code_col)
             .agg(F.count(F.lit(1)).alias("exact_size")))
    return (withc.join(grp, "__comp").join(exact, code_col)
            .select(F.col(id_col).alias("id"), "group_id",
                    "group_size", "exact_size"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.3,
                        text_col: str = "text",
                        max_doc_freq: int | None = 1000) -> DataFrame:
    """n-gram Jaccard near-duplicate pairs: df-pruned inverted-index
    candidate generation + exact verification.

    Default (max_doc_freq=1000): scale-safe — candidates come only from
    shingles with document frequency ≤ 1000, and each candidate pair is
    verified *exactly* via array_intersect on its full shingle sets.
    Precision unchanged vs exact; recall misses only pairs sharing no
    sub-df-cap shingle (not a near-dup at any useful threshold). This is
    the default because corpora with boilerplate hot shingles otherwise
    pay Σ df² on n-grams carrying no near-dup signal — at 100 TB a single
    universal shingle would be an O(N²) join.

    Exact opt-in (max_doc_freq=None): explode shingles → co-occurrence
    join → |∩| per pair → |∪| from per-doc sizes; never materializes the
    O(N²) pair space, cost is Σ df² over shingles.
    """
    sh = shingle_hashes(docs, n=n, text_col=text_col)
    inv = sh.select("doc_id", F.explode("shingles").alias("s"))
    if max_doc_freq is None:
        sizes = sh.select("doc_id", F.size("shingles").alias("sz"))
        pairs = (inv.alias("l").join(inv.alias("r"), "s")
                 .where(F.col("l.doc_id") < F.col("r.doc_id"))
                 .groupBy(F.col("l.doc_id").alias("doc_a"),
                          F.col("r.doc_id").alias("doc_b"))
                 .agg(F.count(F.lit(1)).alias("inter")))
        out = (pairs
               .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}),
                     "doc_a")
               .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}),
                     "doc_b")
               .select("doc_a", "doc_b",
                       (F.col("inter").cast("double") /
                        (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
                       .alias("jaccard")))
        return out.where(F.col("jaccard") >= threshold)
    rare = (inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_doc_freq).select("s"))
    inv_rare = inv.join(rare, "s", "left_semi")
    cand = (inv_rare.alias("l").join(inv_rare.alias("r"), "s")
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("doc_a"),
                    F.col("r.doc_id").alias("doc_b"))
            .distinct())
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                  min_overlap: int = 2, portable: bool = False,
                  text_col: str = "text") -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing at least
    ``min_overlap`` distinct token n-grams with ANY benchmark (eval-set)
    document.

    Shape: inverted-index equi-join on shingle *hashes*. The benchmark
    side — an eval set, thousands of docs, not billions — collapses to a
    distinct-hash set and broadcasts; corpus shingles stream through the
    broadcast hash join map-side, so the only shuffled rows are the
    per-doc HITS — empty for the overwhelming majority of a 100 TB
    corpus. Shingle lists are already distinct per doc, so the post-join
    COUNT is an exact distinct-overlap count.

    Returns the dense per-doc table (doc_id, overlap_ngrams,
    contaminated) for auditability; at scale, keep the sparse ``hits``
    side and anti-join at the point of use instead of materializing the
    dense form.
    """
    tr = (shingle_hashes(docs, n=n, text_col=text_col, portable=portable)
          .select("doc_id", F.explode("shingles").alias("g")))
    bm = (shingle_hashes(benchmark, n=n, text_col=text_col,
                         portable=portable)
          .select(F.explode("shingles").alias("g")).distinct())
    hits = (tr.join(F.broadcast(bm), "g")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("overlap")))
    ov = F.coalesce(F.col("overlap"), F.lit(0))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    ov.cast("int").alias("overlap_ngrams"),
                    (ov >= min_overlap).alias("contaminated")))


def fuzzy_decontaminate(docs: DataFrame, benchmark: DataFrame,
                        threshold: float = 0.5, num_hashes: int = 64,
                        bands: int = 16, n: int = 3,
                        portable: bool = False,
                        text_col: str = "text") -> DataFrame:
    """NEAR-DUPLICATE test-set decontamination: flag corpus documents
    whose MinHash est-Jaccard against ANY benchmark document reaches
    ``threshold`` — the fuzzy complement of :func:`decontaminate`
    (exact n-gram overlap): a lightly edited, truncated, or
    re-templated eval passage keeps a high global Jaccard even where
    the contiguous-n-gram overlap falls under an exact-match cutoff
    (the contamination mode arXiv:2107.06499 §6.2 measures).

    Scale shape: the benchmark side — an eval suite, thousands of
    docs, never billions — bands and BROADCASTS; corpus band keys
    stream through the broadcast join map-side, so the only shuffled
    rows are the candidate hits (empty for almost all of a 100 TB
    corpus). Verification compares signatures for candidates only;
    the per-doc rollup keeps the MAX estimate. Returns the dense
    audit table (doc_id, max_est_jaccard, contaminated); at scale
    keep the sparse hit side and anti-join at the point of use.
    Both signature sets must use one hash family (``portable``)."""
    sig_c = persist_bounded(
        minhash_signatures(docs, num_hashes=num_hashes, n=n,
                           text_col=text_col, portable=portable),
        "fuzzy_decontaminate.sig_c", StorageLevel.MEMORY_AND_DISK)
    sig_b = persist_bounded(
        minhash_signatures(benchmark, num_hashes=num_hashes, n=n,
                           text_col=text_col, portable=portable)
        .withColumnRenamed("doc_id", "bm_id")
        .withColumnRenamed("signature", "sig_b"),
        "fuzzy_decontaminate.sig_b", StorageLevel.MEMORY_AND_DISK)
    bucket_arr = _band_buckets(num_hashes, bands)
    bands_c = sig_c.select(
        "doc_id", F.posexplode(bucket_arr).alias("band", "bucket"))
    bands_b = sig_b.select(
        "bm_id", F.posexplode(_band_buckets(num_hashes, bands, "sig_b"))
        .alias("band", "bucket"))
    cand = (bands_c.join(F.broadcast(bands_b), ["band", "bucket"])
            .select("doc_id", "bm_id").distinct())
    est = (F.size(F.filter(F.zip_with("signature", "sig_b",
                                      lambda x, y: (x == y).cast("int")),
                           lambda v: v == 1)).cast("double")
           / F.lit(float(num_hashes)))
    hits = (cand.join(sig_c, "doc_id")
            .join(F.broadcast(sig_b), "bm_id")
            .select("doc_id", est.alias("est"))
            .groupBy("doc_id").agg(F.max("est").alias("max_est")))
    mx = F.coalesce(F.col("max_est"), F.lit(0.0))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id", mx.alias("max_est_jaccard"),
                    (mx >= threshold).alias("contaminated")))


def line_dedup(docs: DataFrame, *, delim: str = "\n", max_line_df: int = 1,
               text_col: str = "text",
               portable: bool = False) -> DataFrame:
    """CCNet-style line-level (paragraph) deduplication (Wenzek et al.
    2020): split each document into lines, hash the normalized line
    (lowercase, whitespace-collapsed), count how many DOCUMENTS each
    line hash appears in corpus-wide, drop lines whose document
    frequency exceeds ``max_line_df`` (boilerplate headers, cookie
    banners, navigation), and reassemble the surviving lines in their
    original order. → (doc_id, n_lines, n_kept, kept_text).

    Scale shape: the frequency table shuffles (line_hash, doc_id) pairs
    — 8-byte keys, never line text; the per-doc reassembly groups by
    doc_id carrying (pos, line) so each document's lines stay together
    with map-side combine. Documents with zero surviving lines are kept
    with kept_text = '' (the caller filters), matching CCNet's
    drop-then-score order; null-text documents are dropped. ``delim``
    is a split regex (default newline — literal and regex coincide).
    """
    hasher = portable_hash64 if portable else F.xxhash64
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), delim, -1))
         .alias("pos", "line"))
    norm = F.lower(F.trim(F.regexp_replace(F.col("line"), r"\s+", " ")))
    hashed = lines.select("doc_id", "pos", "line",
                          hasher(norm).alias("lh"))
    freq = (hashed.select("lh", "doc_id").distinct()
            .groupBy("lh").agg(F.count(F.lit(1)).alias("line_df")))
    kept = (hashed.join(freq, "lh")
            .where(F.col("line_df") <= max_line_df))
    agg = (kept.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "line"))),
                        lambda s: s["line"]),
                    delim).alias("kept_text")))
    totals = (lines.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_lines")))
    return (totals.join(agg, "doc_id", "left")
            .select("doc_id", "n_lines",
                    F.coalesce(F.col("n_kept"), F.lit(0))
                     .cast("int").alias("n_kept"),
                    F.coalesce(F.col("kept_text"), F.lit(""))
                     .alias("kept_text")))

# ---- persistent banded indexes: MinHash (text) and Hamming (media) ----
#
# Both families are one two-table shape: a bucketed band table
# ``{table}_bands`` for candidate generation (it carries the stamps) and
# a bucketed member table for verification and id expansion. One write,
# append, compact and probe body serves both over a per-family spec.

# generation + doc tombstones (r12, doc-grained r13): shared with the
# IVF family — operators/_tombstones.py is the one implementation
from georiva_spark.operators._tombstones import (  # noqa: E402
    FAMILIES as _ROWS, clear_rules as _clear_rules, gen_cols as _gen_cols,
    has_rules as _has_rules, live_filter as _live_filter,
    make_gen as index_gen, retract as _retract,
    retract_docs as _retract_docs,
    validate_single_writer as _validate_single_writer,
)


class _BandedFamily(NamedTuple):
    """One banded-index family, as the core bodies see it. Its member
    table suffix and tombstone id column come from
    ``_tombstones.FAMILIES`` under the same key. The functions take
    ``op``, the public operation (``write``, ``append``, ``probe``,
    ``lookup``), which names persist slots and error messages."""
    band_keys: tuple        # bucket columns of {table}_bands
    sort_bands: bool        # sortBy the band keys inside each bucket
    member_key: str         # bucket column of the member table
    params: tuple           # integer stamps every index carries
    read: Callable          # stamps -> the non-integer parameters
    keys: Callable          # params -> band key expressions (+ verifier)
    delta: Callable         # (frame, table, p, op) -> delta rows
    bands: Callable         # (spark, table, delta, keys, gen_cols, op)
    members: Callable       # (spark, table, delta, gen_cols, stamps)
    prune: Callable         # (spark, table, live bands, live members)
    verify: Callable        # (cand, delta, live members, p, keys, **opts)


def _minhash_keys(p: dict):
    return _band_buckets(p["num_hashes"], p["bands"])


def _minhash_delta(frame: DataFrame, table: str, p: dict,
                   op: str) -> DataFrame:
    """The frame's signatures, computed ONCE for their two consumers
    (r13): without the persist the pandas-UDF lineage runs twice — at
    100 TB a second corpus scan + tokenize + hash pass; the cached
    sketch is 64 longs/doc, ~3 orders smaller than the text."""
    return persist_bounded(
        minhash_signatures(frame, num_hashes=p["num_hashes"], n=p["n"],
                           text_col=p["text_col"],
                           portable=p["portable"]),
        f"minhash_index_{op}.sig", StorageLevel.MEMORY_AND_DISK)


def _minhash_bands(spark, table: str, delta: DataFrame, keys, gen_cols,
                   op: str) -> DataFrame:
    return (delta.select("doc_id",
                         F.posexplode(keys).alias("band", "bucket"))
            .select("band", "bucket", "doc_id", *gen_cols))


def _minhash_verify(cand: DataFrame, delta: DataFrame, sigs: DataFrame,
                    p: dict, keys, threshold: float) -> DataFrame:
    """est_jaccard from the two signatures of each band-matched pair."""
    pairs = (cand.where(F.col("new.doc_id") != F.col("old.doc_id"))
             .select(F.col("new.doc_id").alias("doc_new"),
                     F.col("old.doc_id").alias("doc_old"))
             .dropDuplicates(["doc_new", "doc_old"]))
    a = delta.select(F.col("doc_id").alias("doc_new"),
                     F.col("signature").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_old"),
                    F.col("signature").alias("sig_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: (x == y).cast("int")),
                           lambda v: v == 1)).cast("double")
           / F.lit(float(p["num_hashes"])))
    return (pairs.join(a, "doc_new").join(b, "doc_old")
            .select("doc_new", "doc_old", est.alias("est_jaccard"))
            .where(F.col("est_jaccard") >= threshold))


def _code_ref(codes: DataFrame, code_col: str):
    """Collision-free join key for a code column: a long code is its
    own ref; an array code uses the full 128-bit md5 of its canonical
    string (the hamming_groups surrogate policy — bucketable, unlike
    the array itself)."""
    from pyspark.sql.types import ArrayType

    if isinstance(codes.schema[code_col].dataType, ArrayType):
        return F.md5(F.col(code_col).cast("string").cast("binary")), True
    return F.col(code_col), False


def _hamming_keys(p: dict):
    return _hamming_band_exprs(bool(p["arr"]), "code", p["max_hamming"],
                               p["bits"], p["word_bits"],
                               caller="hamming_index")


def _hamming_delta(frame: DataFrame, table: str, p: dict,
                   op: str) -> DataFrame:
    """(id, code) rows without null codes or repeated pairs. They are
    persisted: the Arrow decode of real media (image_dhash,
    audio_fingerprint) feeds two or more plan branches and must run
    once (r13). A long-code write is the exception, see
    :func:`_hamming_bands`."""
    is_arr = _code_ref(frame, "code")[1]
    if bool(p["arr"]) != is_arr:
        raise ValueError(
            f"hamming_index_{op}: index {table!r} stores "
            f"{'array' if p['arr'] else 'long'} codes but the delta "
            f"carries {'array' if is_arr else 'long'} codes")
    rows = (frame.where(F.col("code").isNotNull())
            .dropDuplicates(["id", "code"]))
    if op == "write" and not is_arr:
        return rows
    return persist_bounded(rows, f"hamming_index_{op}.delta",
                           StorageLevel.MEMORY_AND_DISK)


def _hamming_bands(spark, table: str, delta: DataFrame, keys, gen_cols,
                   op: str) -> DataFrame:
    """(band, key, code, ref) rows over DISTINCT codes — the
    pre-collapse: N items sharing one code (silence clips, black
    frames) cost ONE row per band, not N, so band rows carry no id or
    generation. A long-code write reads its codes back from the
    just-written ``_ids`` table, where ref IS the code (r14): one
    decode pass without a persist, and a bucket-aligned distinct. An
    append adds rows only for codes the index has not seen, so a code
    in every future shard still costs one band row."""
    if op == "write" and not _code_ref(delta, "code")[1]:
        dc = spark.table(f"{table}_ids").select(F.col("ref").alias("code"))
    else:
        dc = delta.select("code")
    dc = dc.distinct()
    dc = dc.select("code", _code_ref(dc, "code")[0].alias("ref"))
    if op == "append":
        dc = dc.join(spark.table(f"{table}_bands").select("ref").distinct(),
                     "ref", "left_anti")
    return (dc.select("code", "ref", F.explode(F.array(*keys[0])).alias("bk"))
            .select("bk.band", "bk.key", "code", "ref"))


def _hamming_members(spark, table: str, delta: DataFrame, gen_cols,
                     stamps: dict | None) -> DataFrame:
    """(ref, id[, gen]) membership rows. An append (``stamps`` of the
    grown index) skips the (ref, id) pairs the index holds LIVE: a
    duplicate or replayed append outside the streaming loop's guard is
    a no-op (double-counted members would inflate the lookup's
    n_matched_items), while a tombstoned membership does not block its
    re-admission under a new generation. The existing scan is pruned
    to the delta's refs first (the delta is micro-batch-sized)."""
    ids = delta.select(_code_ref(delta, "code")[0].alias("ref"), "id")
    if stamps is not None:
        held = (_live_filter(spark, table, stamps, "id")(
                    spark.table(f"{table}_ids"))
                .join(ids.select("ref").distinct(), "ref", "left_semi"))
        ids = ids.join(held, ["ref", "id"], "left_anti")
    return ids.select("ref", "id", *gen_cols)


def _hamming_prune(spark, table: str, bands: DataFrame,
                   ids: DataFrame) -> DataFrame:
    """Band rows carry no id, so the live filter passes them: with
    pending rules a compaction keeps only codes with a live member (a
    retracted-only code stops generating candidates)."""
    if not _has_rules(spark, table):
        return bands
    return bands.join(ids.select("ref").distinct(), "ref", "left_semi")


def _hamming_candidates(cand: DataFrame, p: dict, keys) -> DataFrame:
    """Band-matched (delta ref, index ref) DISTINCT code pairs within
    max_hamming — the exact bit_count runs once per code pair."""
    return (cand.select(F.col("new.ref").alias("__ra"),
                        F.col("old.ref").alias("__rb"),
                        F.col("new.code").alias("__ca"),
                        F.col("old.code").alias("__cb"))
            .select("__ra", "__rb", keys[1].alias("hamming"))
            .where(F.col("hamming") <= p["max_hamming"])
            .dropDuplicates(["__ra", "__rb"]))


def _delta_refs(delta: DataFrame) -> DataFrame:
    return delta.select(_code_ref(delta, "code")[0].alias("__ra"),
                        F.col("id").alias("id_new"))


def _hamming_verify(cand: DataFrame, delta: DataFrame, ids: DataFrame,
                    p: dict, keys) -> DataFrame:
    """The probe's pairs: candidate code pairs expanded to their
    members, min hamming per (id_new, id_old), id_new ≠ id_old."""
    ib = ids.select(F.col("ref").alias("__rb"), F.col("id").alias("id_old"))
    return (_hamming_candidates(cand, p, keys)
            .join(_delta_refs(delta), "__ra").join(ib, "__rb")
            .where(F.col("id_new") != F.col("id_old"))
            .groupBy("id_new", "id_old")
            .agg(F.min("hamming").cast("int").alias("hamming")))


def _hamming_lookup(cand: DataFrame, delta: DataFrame, ids: DataFrame,
                    p: dict, keys,
                    exclude_ids: DataFrame | None) -> DataFrame:
    """The lookup's rows: per delta item its best hamming and the
    matched codes' member counts (a bounded rollup of ``_ids``)."""
    if exclude_ids is not None:
        ids = ids.join(exclude_ids.select(
            F.col(exclude_ids.columns[0]).alias("id")), "id", "left_anti")
    sizes = (ids.groupBy(F.col("ref").alias("__rb"))
             .agg(F.count(F.lit(1)).alias("__n")))
    per_ref = (_hamming_candidates(cand, p, keys).join(sizes, "__rb")
               .groupBy("__ra")
               .agg(F.min("hamming").cast("int").alias("min_hamming"),
                    F.sum("__n").alias("n_matched_items")))
    return (_delta_refs(delta).join(per_ref, "__ra")
            .groupBy("id_new")
            .agg(F.min("min_hamming").cast("int").alias("min_hamming"),
                 F.max("n_matched_items").alias("n_matched_items")))


#: index family -> its spec (keys as in ``_tombstones.FAMILIES``)
BANDED = {
    "minhash": _BandedFamily(
        band_keys=("band", "bucket"), sort_bands=True, member_key="doc_id",
        params=("num_hashes", "bands", "n", "n_buckets"),
        read=lambda stamps: {
            "text_col": _index_table.get(stamps, "text_col", "text"),
            "portable": _index_table.get(stamps, "portable") == "1"},
        keys=_minhash_keys, delta=_minhash_delta, bands=_minhash_bands,
        members=lambda spark, table, delta, gen_cols, stamps:
            delta.select("doc_id", "signature", *gen_cols),
        prune=lambda spark, table, bands, sigs: bands,
        verify=_minhash_verify),
    "hamming": _BandedFamily(
        band_keys=("band", "key"), sort_bands=False, member_key="ref",
        params=("max_hamming", "bits", "word_bits", "n_buckets", "arr"),
        read=lambda stamps: {},
        keys=_hamming_keys, delta=_hamming_delta, bands=_hamming_bands,
        members=_hamming_members, prune=_hamming_prune,
        verify=_hamming_verify),
}


def banded_stamps(family: str, spark, table: str) -> tuple[dict, dict]:
    """ONE read of ``{table}_bands``' stamps → (the ``family``
    parameters, the stamps for the tombstone tripwire). A missing or
    unstamped ``_bands`` fails by name: it is not a managed index (a
    rebuild that crashed between its writes leaves exactly that)."""
    f = BANDED[family]
    stamps = _index_table.props(spark, f"{table}_bands", missing_ok=True)
    p = dict(zip(f.params, _index_table.require(stamps, table, family,
                                                *f.params)))
    return {**p, **f.read(stamps)}, stamps


def banded_write(family: str, frame: DataFrame, table: str, path: str,
                 p: dict, gen: str = "") -> None:
    """Build a new ``family`` index under ``table``: drop the
    stamped ``{table}_bands`` FIRST, write the member table, write the
    band table, stamp ``p``, clear the old name's tombstone rules.

    Drop-first makes a rebuild that crashes between its writes fail by
    name at the next probe (no stamped ``_bands``) instead of pairing
    new band rows with old members, and it uncaches plans that read
    the old table (the r14 overwrite lesson). The rules clear last: a
    crash before only hides rows."""
    from georiva_spark.sources.bucketing import write_bucketed

    f, member = BANDED[family], _ROWS[family][1]
    spark = frame.sparkSession
    keys = f.keys(p)        # a bad parameter fails before the drop
    delta = f.delta(frame, table, p, "write")
    spark.sql(f"DROP TABLE IF EXISTS {table}_bands")
    gen_cols = [F.lit(gen).alias("gen")]
    write_bucketed(f.members(spark, table, delta, gen_cols, None),
                   f"{table}{member}", f.member_key, p["n_buckets"],
                   f"{path}/{member[1:]}", sort=False)
    write_bucketed(f.bands(spark, table, delta, keys, gen_cols, "write"),
                   f"{table}_bands", list(f.band_keys), p["n_buckets"],
                   f"{path}/bands", sort=f.sort_bands)
    _index_table.stamp(spark, f"{table}_bands", p)
    _clear_rules(spark, table, stamp_table=f"{table}_bands")


def banded_append(family: str, frame: DataFrame, table: str,
                  gen: str = "", stamped: tuple | None = None) -> None:
    """Append ``frame`` into a ``family`` index in the SAME bucket
    layout (Spark appends to a bucketed table when the spec matches),
    so probes stay shuffle-free on the index side. Parameters come
    from the stamps (``stamped``: a :func:`banded_stamps` read the
    caller already holds). ``gen`` tags the appended rows' generation
    (:func:`index_gen`); a tagged append into an unversioned pre-r12
    layout fails by name."""
    f, member = BANDED[family], _ROWS[family][1]
    spark = frame.sparkSession
    p, stamps = stamped or banded_stamps(family, spark, table)
    gen_cols = _gen_cols(spark, table, family, gen,
                         f"{family}_index_append")
    keys = f.keys(p)
    delta = f.delta(frame, table, p, "append")
    # bands FIRST, members LAST: a member row then implies its append
    # completed (the streaming replay guards read the member table),
    # and a crash between the two writes leaves band rows without
    # members, which no probe can verify and a replay's band rows
    # duplicate harmlessly
    for rows, name, cols, sort in (
            (f.bands(spark, table, delta, keys, gen_cols, "append"),
             "_bands", f.band_keys, f.sort_bands),
            (f.members(spark, table, delta, gen_cols, stamps),
             member, (f.member_key,), False)):
        w = (rows.write.mode("append").format("parquet")
             .bucketBy(p["n_buckets"], *cols))
        (w.sortBy(*cols) if sort else w).saveAsTable(f"{table}{name}")
    # a reader that scanned either table BEFORE this append holds a
    # cached file listing that silently misses the new files (relation
    # caches are per-session — a serving session refreshes separately,
    # see streaming/_loop.py)
    for name in ("_bands", member):
        spark.catalog.refreshTable(f"{table}{name}")


def banded_compact(family: str, spark, table: str, path: str) -> None:
    """Compact an appended-to ``family`` index back to one file per
    bucket under a fresh ``path`` — a pure layout rewrite (nothing is
    recomputed) that removes tombstoned rows PHYSICALLY. The staged
    tables end through :func:`_index_table.install`: stamp → swap →
    clear the rules, so every intermediate state leaves a probeable,
    stamped table under some name, and a crash between swap and clear
    leaves rules that match nothing, never dead rows live again."""
    from georiva_spark.sources.bucketing import write_bucketed

    f, (_, member, id_col) = BANDED[family], _ROWS[family]
    p, stamps = banded_stamps(family, spark, table)
    _validate_single_writer(spark, table)
    live = _live_filter(spark, table, stamps, id_col)
    members = live(spark.table(f"{table}{member}"))
    bands = f.prune(spark, table, live(spark.table(f"{table}_bands")),
                    members)
    write_bucketed(bands, f"{table}_bands_compact", list(f.band_keys),
                   p["n_buckets"], f"{path}/bands", sort=f.sort_bands,
                   one_file_per_bucket=True)
    write_bucketed(members, f"{table}{member}_compact", f.member_key,
                   p["n_buckets"], f"{path}/{member[1:]}", sort=False,
                   one_file_per_bucket=True)
    _index_table.install(spark, table, f"{table}_bands",
                         _index_table.params(stamps),
                         (f"{table}_bands", f"{table}{member}"))


def banded_probe(family: str, frame: DataFrame, table: str,
                 stamped: tuple | None = None, op: str = "probe",
                 verify: Callable | None = None, **opts) -> DataFrame:
    """Probe a ``family`` index with a delta: the delta's band rows
    join the bucketed ``{table}_bands`` on the band keys (the index
    side scans SHUFFLE-FREE), the family's ``verify`` (or the given
    one, with ``opts``) checks the candidates against the member
    table, and the live filter drops tombstoned rows from both tables
    (a frame without the gen or id column passes it). Nothing about
    the indexed corpus is recomputed, collected or broadcast."""
    f, (_, member, id_col) = BANDED[family], _ROWS[family]
    spark = frame.sparkSession
    p, stamps = stamped or banded_stamps(family, spark, table)
    keys = f.keys(p)
    delta = f.delta(frame, table, p, op)
    live = _live_filter(spark, table, stamps, id_col)
    cand = (f.bands(spark, table, delta, keys, [], op).alias("new")
            .join(live(spark.table(f"{table}_bands")).alias("old"),
                  list(f.band_keys)))
    return (verify or f.verify)(
        cand, delta, live(spark.table(f"{table}{member}")), p, keys,
        **opts)


def _hamming_frame(codes: DataFrame, id_col: str,
                   code_col: str) -> DataFrame:
    return codes.select(F.col(id_col).alias("id"),
                        F.col(code_col).alias("code"))


def hamming_index_write(codes: DataFrame, table: str, path: str,
                        id_col: str = "media_id",
                        code_col: str = "code",
                        max_hamming: int = 3, bits: int = 64,
                        word_bits: int = 56,
                        n_buckets: int = 64, gen: str = "") -> None:
    """Persistent Hamming near-dup index — the PERCEPTUAL member of
    the index triad (MinHash for text, IVF for embeddings): probe
    yesterday's media corpus with today's shard without recomputing
    or re-shuffling anything about it. Two bucketed tables:

    - ``{table}_bands`` (band, key, code, ref) bucketed by
      (band, key) — candidate generation over DISTINCT codes only
      (the pre-collapse: N silence clips sharing one code cost ONE
      row per band, not N);
    - ``{table}_ids`` (ref, id, gen) bucketed by ref — membership,
      where ref is the code itself (long codes) or its 128-bit md5
      (array codes — bucketable and collision-free).

    Band keys come from :func:`_hamming_band_exprs` — the SAME
    definition the in-memory miner uses, so index and probe cannot
    drift. Banding parameters are stamped as TBLPROPERTIES and read
    back at probe/append time (no caller params to mismatch). The
    write is :func:`banded_write` (drop the stamped table first).

    ``gen`` (r12) tags the MEMBERSHIP rows' generation (see
    :func:`index_gen`) so a re-crawled media shard's dead members can
    be RETRACTED (:func:`hamming_index_retract`). Band rows stay
    generation-free BY DESIGN: they are distinct CODES shared across
    shards (the pre-collapse), so retraction works at the membership
    layer — a dead member vanishes from probe pairs and lookup
    counts immediately, and compaction drops band rows whose code has
    no live member left."""
    banded_write("hamming", _hamming_frame(codes, id_col, code_col),
                 table, path, {
                     "max_hamming": max_hamming, "bits": bits,
                     "word_bits": word_bits, "n_buckets": n_buckets,
                     "arr": int(_code_ref(codes, code_col)[1])}, gen)


def hamming_index_params(spark, table: str) -> dict:
    """Read the banding parameters :func:`hamming_index_write`
    stamped (raises by name if absent — an unstamped table is not a
    managed Hamming index)."""
    return banded_stamps("hamming", spark, table)[0]


def hamming_index_probe(new_codes: DataFrame, table: str,
                        id_col: str = "media_id",
                        code_col: str = "code") -> DataFrame:
    """Probe a :func:`hamming_index_write` index with a delta shard →
    (id_new, id_old, hamming ≤ max_hamming) pairs, min-hamming per id
    pair, id_new ≠ id_old. Banding parameters come from the stamp;
    the delta's band keys join the bucketed index SHUFFLE-FREE on the
    index side; verification runs the exact bit_count on the
    band-matched DISTINCT code pairs only; members expand through the
    bucketed ``_ids`` table, where retracted generations and
    taken-down ids vanish (a band-matched code whose only members are
    dead yields no pair rows). Nothing about the indexed corpus is
    recomputed, collected, or broadcast.

    QUADRATIC-OUTPUT HAZARD (the hamming_pairs contract): a delta
    code near an M-member identical-code group owes M pair rows —
    the 1M-code smoke measures 34.8 s for a hot-group delta that
    :func:`hamming_index_lookup` answers in 3.7 s with one row per
    delta item. Use the probe only when the pairs themselves are the
    product; keep-or-drop decisions belong to the lookup."""
    return banded_probe("hamming", _hamming_frame(new_codes, id_col,
                                                  code_col), table)


def hamming_index_lookup(new_codes: DataFrame, table: str,
                         id_col: str = "media_id",
                         code_col: str = "code",
                         exclude_ids: DataFrame | None = None
                         ) -> DataFrame:
    """LINEAR keep-or-drop lookup against a :func:`hamming_index_write`
    index — the :func:`hamming_groups` principle applied to serving:
    per delta item, (id_new, min_hamming, n_matched_items) WITHOUT
    materializing the pair expansion. A delta item whose code sits
    near a 10 M-member black-frame group costs ONE row here; the same
    item through :func:`hamming_index_probe` owes 10 M pair rows —
    inherent to the pair contract, so use the probe only when the
    pairs themselves are the product. min_hamming is over matched
    DISTINCT index codes; n_matched_items sums the matched codes'
    membership counts (a bounded rollup of the ``_ids`` table). Items
    with no match are absent (semi shape — anti-join for the keeps).
    An id carrying several codes reports its best (min) hamming and
    the MAX of its per-code match counts — an overlap-safe lower
    bound (summing could double-count an index code matched through
    two of the id's codes). The delta and the candidate step are the
    probe's.

    ``exclude_ids`` (optional single-column frame): index MEMBERS to
    ignore — both in the size rollup and in match existence (an index
    code whose only members are excluded contributes nothing). The
    streaming lookup mode passes the batch's own ids here so a
    REPLAYED batch (whose first attempt already appended) does not
    self-match at hamming 0 — the lookup-shaped analog of the pair
    loop's id_old anti-join."""
    return banded_probe("hamming", _hamming_frame(new_codes, id_col,
                                                  code_col), table,
                        op="lookup", verify=_hamming_lookup,
                        exclude_ids=exclude_ids)


def hamming_index_append(new_codes: DataFrame, table: str,
                         id_col: str = "media_id",
                         code_col: str = "code",
                         gen: str = "") -> None:
    """Append a delta shard into a :func:`hamming_index_write` index:
    band rows append only for codes the index has NOT seen (anti-join
    on the collision-free ref — the pre-collapse survives growth: a
    code appearing in every future shard still costs one band row),
    and membership rows anti-join on (ref, id) so a duplicate or
    REPLAYED append outside the streaming loop's guard is a no-op —
    without it, double-counted members silently inflate
    :func:`hamming_index_lookup`'s n_matched_items (the probe collapses
    dupes via its min-groupBy; the lookup's size rollup does not).
    The existing-membership scan is pruned to the delta's refs first
    (broadcast semi join — the delta is micro-batch-sized), mirroring
    the cost of the band-side seen-refs scan. Parameters come from the
    stamp; listings refresh so an open serving session sees growth.

    ``gen`` (r12) tags the appended membership rows (see
    :func:`hamming_index_retract`); the duplicate-membership
    anti-join considers LIVE rows only, so a re-crawled shard's new
    delivery re-admits an id whose only prior membership is
    tombstoned (the dead row stays until compaction purges it).
    Tagged appends into an unversioned pre-r12 layout fail by name."""
    banded_append("hamming", _hamming_frame(new_codes, id_col, code_col),
                  table, gen)


def hamming_index_retract(spark, table: str, shard: str,
                          keep_gen: str = "") -> None:
    """Retract a re-crawled media shard's DEAD memberships from a
    persistent Hamming index (r12 — the T5 tombstone machinery shared
    with the MinHash and IVF families, operators/_tombstones.py):
    tombstone every generation of ``shard`` except ``keep_gen``.
    Probes and lookups stop matching the dead members immediately
    (broadcast anti-join of the bounded rule table at the membership
    expansion); :func:`hamming_index_compact` purges them physically,
    drops band rows whose code has no live member left, and clears
    the rules."""
    _retract(spark, table, "hamming", shard, keep_gen)


def hamming_index_retract_docs(spark, table: str, ids) -> None:
    """TAKEDOWN (r13 — doc-grained T5) for the perceptual index:
    tombstone SPECIFIC media ids at the MEMBERSHIP layer (band rows
    are distinct codes shared across items, so they stay — a code
    whose only members are taken down simply yields no pair rows, and
    :func:`hamming_index_compact` drops it physically). ``ids`` is
    the bounded id list of the request; works on any layout including
    unversioned pre-r12 indexes."""
    _retract_docs(spark, table, "hamming", ids)


def hamming_index_compact(spark, table: str, path: str) -> None:
    """Compact an appended-to Hamming index back to one file per
    bucket (:func:`banded_compact`). Tombstoned memberships
    (:func:`hamming_index_retract`) are removed PHYSICALLY, band rows
    whose code has no live member left are dropped (a retracted-only
    code stops generating candidates at all), and the rule table
    clears AFTER both swaps (:func:`_index_table.install`)."""
    banded_compact("hamming", spark, table, path)


def minhash_index_write(docs: DataFrame, table: str, path: str,
                        n_buckets: int = 64, num_hashes: int = 64,
                        bands: int = 16, n: int = 3,
                        text_col: str = "text",
                        portable: bool = False, gen: str = "") -> None:
    """Materialize a persistent MinHash-LSH index for INCREMENTAL
    dedup: new shards probe the index without ever recomputing or
    re-shuffling the existing corpus — the index grows with the
    corpus, the probe cost grows with the delta. Two bucketed tables
    (sources/bucketing.py layout, shuffle paid once here):

    - ``{table}_bands``  (band, bucket, doc_id, gen), bucketed by
      (band, bucket) — the candidate-generation side;
    - ``{table}_sigs``   (doc_id, signature, gen), bucketed by
      doc_id — the verification side.

    At probe time Spark shuffles only the (tiny) delta into the
    index's bucket layout; the index side scans shuffle-free
    (plan-asserted in tests/test_dedup_index.py). The signature
    parameters are stamped on ``{table}_bands``; probes and appends
    read them from there. The write is :func:`banded_write` (drop the
    stamped table first).

    ``gen`` (r12) stamps every row with a generation tag (see
    :func:`index_gen`) so a re-crawled shard's dead signatures can be
    RETRACTED (:func:`minhash_index_retract`) — T5 staleness reaching
    the index, the r11 verdict's top item. The default ''
    (unversioned base) is never retractable."""
    banded_write("minhash", docs, table, path, {
        "num_hashes": num_hashes, "bands": bands, "n": n,
        "n_buckets": n_buckets, "text_col": text_col,
        "portable": int(portable)}, gen)


def minhash_index_params(spark, table: str) -> dict[str, int]:
    """Read the signature parameters minhash_index_write stamped on
    ``{table}_bands`` (raises if absent — an unstamped table is not a
    managed index)."""
    return banded_stamps("minhash", spark, table)[0]


def minhash_index_append(docs: DataFrame, table: str,
                         gen: str = "") -> None:
    """Append a delta shard to a :func:`minhash_index_write` index —
    the growth half of the incremental dedup loop: signatures computed
    for the DELTA only, appended into the SAME bucket layout, so
    future probes stay shuffle-free on the index side. Parameters come
    from the stamp the write left on the table. ``gen`` tags the
    appended rows' generation (:func:`index_gen`) so
    :func:`minhash_index_retract` can later tombstone them (T5);
    appending a tagged generation into a pre-r12 unversioned layout
    fails by name (rebuild the index to make it retractable)."""
    banded_append("minhash", docs, table, gen)


def minhash_index_retract(spark, table: str, shard: str,
                          keep_gen: str = "") -> None:
    """Retract a re-crawled shard's DEAD signatures from a persistent
    MinHash index (r12 — T5 staleness reaching the index, the r11
    verdict's top item): tombstone every generation of ``shard``
    except ``keep_gen`` (pass the NEW delivery's :func:`index_gen`,
    or '' to retract the shard entirely). Reference analog:
    ``processing/invocation.py:210-247`` — staleness is transitive to
    *everything* derived, including index rows.

    Mechanics (shared, operators/_tombstones.py): appends one rule
    row (shard, keep_gen, seq) to the managed ``{table}_dead`` table;
    the LATEST rule per shard wins (append-only — no overwrite window
    for concurrent probes to read an empty rule set). Probes
    anti-join the broadcast-tiny rule table (O(#retracted shards)
    rows), so retraction is O(1) at event time;
    :func:`minhash_index_compact` later removes the dead rows
    physically and clears the rules. Single-writer: retracts and
    compactions are the stream's to sequence (the same contract as
    appends)."""
    _retract(spark, table, "minhash", shard, keep_gen)


def minhash_index_retract_docs(spark, table: str, doc_ids) -> None:
    """TAKEDOWN (r13 — doc-grained T5): tombstone SPECIFIC doc_ids
    out of a persistent MinHash index, for the retraction requests a
    shard rule cannot express (legal takedown / right-to-be-forgotten
    names documents, not crawl shards — the only r12 path was
    re-crawling the whole shard without them). ``doc_ids`` is the
    bounded id list of the request. Probes stop matching the docs
    immediately (a second broadcast anti-join, operators/
    _tombstones.py); :func:`minhash_index_compact` purges their
    band + signature rows physically and clears the rules. Works on
    any layout including unversioned pre-r12 indexes (the filter
    keys on doc_id, not the gen)."""
    _retract_docs(spark, table, "minhash", doc_ids)


def minhash_index_has_gen(spark, table: str, gen: str) -> bool:
    """True if ``gen`` was already appended to the index — the replay
    guard of a generation-tagged growth loop (a gen is deterministic
    of (shard, content), so presence implies the append completed;
    appends write bands first and sigs LAST, so the sigs table is the
    commit witness, the same ordering contract streaming/_loop.py
    relies on)."""
    return (spark.table(f"{table}_sigs")
            .where(F.col("gen") == gen).limit(1).count() > 0)


def minhash_index_compact(spark, table: str, path: str) -> None:
    """Compact an appended-to index back to one file per bucket.

    Every :func:`minhash_index_append` (each streaming micro-batch)
    adds n_buckets files per table; after B batches a probe opens
    B×n_buckets files — the classic small-files tax. Compaction
    re-materializes both tables with the SAME bucket spec into a fresh
    ``path`` (no signature is recomputed — this is a pure layout
    rewrite), stamps the signature parameters on the staged tables,
    then swaps each catalog entry via
    :func:`~georiva_spark.sources.bucketing.atomic_swap_table`
    (rename-out / rename-in / drop-old). Each catalog statement is
    atomic; the SEQUENCE is not — but every intermediate state leaves
    a probeable, param-stamped table under some name, and a crash is
    recovered by renaming the surviving ``_compact``/``_old`` table
    back (see atomic_swap_table). Old data directories are the
    caller's to retire.

    Tombstoned generations (:func:`minhash_index_retract`) are
    REMOVED PHYSICALLY here — the compacted layout holds only live
    rows — and the rule table clears AFTER both swaps
    (:func:`_index_table.install`, the stamp → swap → clear step of
    every compaction): a crash between swap and clear leaves rules
    that match nothing (idempotently re-appliable), never a window
    where dead rows are live again."""
    banded_compact("minhash", spark, table, path)


def minhash_index_probe(new_docs: DataFrame, table: str,
                        threshold: float = 0.5) -> DataFrame:
    """Probe a :func:`minhash_index_write` index with a new shard →
    (doc_new, doc_old, est_jaccard) pairs at est ≥ threshold. The
    incremental half of a growing-corpus dedup: signatures are
    computed for the DELTA only; candidate generation joins the
    delta's band keys against the bucketed index (index side
    shuffle-free); verification joins candidates back to the two
    signature sources by id; retracted generations and taken-down
    doc_ids are filtered out of BOTH index tables. Nothing about the
    existing corpus is recomputed, collected, or broadcast.

    The signature parameters (num_hashes, bands, n, text_col and the
    portable hash family) are read from the stamps the write left on
    ``{table}_bands`` — a probe cannot hash with other parameters, and
    an unstamped ``_bands`` fails by name."""
    return banded_probe("minhash", new_docs, table, threshold=threshold)


def minhash_recall_estimate(docs: DataFrame, threshold: float = 0.5,
                            sample_ppm: int = 50_000,
                            num_hashes: int = 64, bands: int = 16,
                            n: int = 3, key_col: str = "doc_id",
                            text_col: str = "text",
                            salt: str = "mh-recall",
                            portable: bool = False,
                            max_sample_pairs: int = 25_000_000
                            ) -> DataFrame:
    """Banding-parameter CALIBRATION for the MinHash-LSH family — the
    text-index sibling of
    :func:`~georiva_spark.operators.similarity.ann_recall_estimate`:
    before committing a 100-TB corpus to (num_hashes, bands), measure
    on an md5 document sample what the pipeline actually catches.
    Ground truth is EXACT n-gram Jaccard over all pairs within the
    bounded sample; the candidate is :func:`minhash_lsh_pairs` at the
    same (num_hashes, bands, threshold) — so the measured recall is
    END-TO-END (banding misses + estimator error together, the number
    that matters) and precision counts flagged pairs whose true
    Jaccard clears the threshold.

    Scale shape: the sample is ppm-bounded, the exact all-pairs truth
    runs only within it (the explicit ``max_doc_freq=None`` opt-in —
    safe because the input is the sample, never the corpus), the
    banded side is the production path on the same sample, and the
    final reconciliation joins two pair sets bounded by the sample's
    near-dup density.

    COST BUDGET — the calibration is QUADRATIC in the sample: the
    exact ground truth compares every within-sample pair, so with a
    corpus of N documents the truth stage costs
    ``pairs ≈ (sample_ppm/1e6 · N)² / 2`` comparisons. Size
    ``sample_ppm`` from the pair budget, not the corpus:
    ``sample_ppm ≤ 1e6 · sqrt(2 · max_pairs) / N`` — e.g. a 25M-pair
    budget allows a ~7k-doc sample, which is ppm=7000 at N=1M but
    ppm=7 at N=1B (ppm=1e6 on a 1B-doc corpus would imply 5e17
    pairs). The ``max_sample_pairs`` guard enforces exactly this
    arithmetic and fails by name BEFORE any truth work runs.
    → ONE row: (threshold, num_hashes, bands,
    n_docs, true_pairs, caught_pairs, recall, flagged_pairs,
    precision); recall/precision are NULL when their denominator is
    empty (no true / no flagged pairs in the sample — raise
    sample_ppm)."""
    if not 0 < sample_ppm <= 1_000_000:
        raise ValueError(
            f"minhash_recall_estimate: sample_ppm={sample_ppm} must "
            f"be in (0, 1_000_000]")
    h = F.md5(F.concat_ws(":", F.lit(salt),
                          F.col(key_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") \
        % 1_000_000
    if max_sample_pairs < 1:
        raise ValueError(
            f"minhash_recall_estimate: max_sample_pairs="
            f"{max_sample_pairs} must be >= 1")
    sample = persist_bounded(
        docs.where(bucket < sample_ppm),
        "minhash_recall_estimate.sample", StorageLevel.MEMORY_AND_DISK)
    n_docs = sample.count()
    implied_pairs = n_docs * (n_docs - 1) // 2
    if implied_pairs > max_sample_pairs:
        sample.unpersist()
        # N estimated back from the draw; suggested ppm from the
        # docstring's budget arithmetic 1e6·sqrt(2·max_pairs)/N
        n_corpus = max(1.0, n_docs * 1e6 / max(sample_ppm, 1))
        ppm_fit = max(1, int(1e6 * (2 * max_sample_pairs) ** 0.5
                             / n_corpus))
        raise ValueError(
            f"minhash_recall_estimate: sample_ppm={sample_ppm} draws "
            f"{n_docs} docs ⇒ {implied_pairs} exact-truth pairs > "
            f"max_sample_pairs={max_sample_pairs} — the calibration "
            f"is quadratic in the sample; shrink sample_ppm to ~"
            f"{ppm_fit} (1e6·sqrt(2·max_pairs)/N) or raise "
            f"max_sample_pairs knowingly")
    truth = (ngram_jaccard_pairs(sample, n=n, threshold=threshold,
                                 text_col=text_col, max_doc_freq=None)
             .select("doc_a", "doc_b"))
    got = (minhash_lsh_pairs(sample, num_hashes=num_hashes,
                             bands=bands, threshold=threshold, n=n,
                             text_col=text_col, portable=portable)
           .select("doc_a", "doc_b"))
    u = (truth.withColumn("__t", F.lit(1)).withColumn("__g", F.lit(0))
         .unionByName(got.withColumn("__t", F.lit(0))
                      .withColumn("__g", F.lit(1))))
    flat = (u.groupBy("doc_a", "doc_b")
            .agg(F.max("__t").alias("t"), F.max("__g").alias("g")))
    # a pair-free sample leaves flat EMPTY: coalesce the sums so the
    # counts read 0 and only the ratios go NULL
    ts = F.coalesce(F.sum("t"), F.lit(0))
    gs = F.coalesce(F.sum("g"), F.lit(0))
    both = F.coalesce(F.sum(F.col("t") * F.col("g")), F.lit(0))
    return flat.agg(
        F.lit(float(threshold)).alias("threshold"),
        F.lit(int(num_hashes)).cast("int").alias("num_hashes"),
        F.lit(int(bands)).cast("int").alias("bands"),
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        ts.cast("long").alias("true_pairs"),
        both.cast("long").alias("caught_pairs"),
        F.when(ts > 0, F.round(both.cast("double") / ts, 6))
        .alias("recall"),
        gs.cast("long").alias("flagged_pairs"),
        F.when(gs > 0, F.round(both.cast("double") / gs, 6))
        .alias("precision"))


def minhash_tune_grid(num_hashes_grid: tuple = (16, 32, 64, 128)
                      ) -> list[tuple[int, int, int]]:
    """The (num_hashes, bands, rows_per_band) candidate grid
    :func:`minhash_tune` prices: every bands value dividing each
    num_hashes. Shared with the DuckDB oracle generator so both
    engines price the IDENTICAL grid."""
    return [(n, b, n // b)
            for n in num_hashes_grid
            for b in range(1, n + 1) if n % b == 0]


def minhash_tune(spark, threshold: float, target_recall: float,
                 num_hashes_grid: tuple = (16, 32, 64, 128),
                 docs: DataFrame | None = None,
                 sample_ppm: int = 50_000, n: int = 3,
                 key_col: str = "doc_id", text_col: str = "text",
                 portable: bool = False,
                 max_sample_pairs: int = 25_000_000) -> DataFrame:
    """Banding-parameter AUTO-SIZER — the MinHash sibling of
    :func:`~georiva_spark.operators.similarity.ann_tune` (r10): pick
    (num_hashes, bands) from the S-curve CLOSED FORM instead of by
    hand. For a pair at Jaccard similarity s, banded LSH flags it
    with probability ``P(s) = 1 − (1 − s^r)^b`` (r = rows per band,
    b = bands — Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4.2). Each grid setting is scored at the dedup
    threshold (``recall_at_threshold = P(threshold)`` — the floor of
    the catch rate for every pair AT the threshold; pairs above it
    only do better) and at half the threshold
    (``fp_at_half_threshold`` — the false-positive pressure proxy:
    how often a clearly-below-threshold pair still reaches the
    estimator check). Cost is the transparent per-doc work model
    ``num_hashes + bands`` (signature hashes computed + band keys
    emitted). → the FULL priced grid, ``chosen = true`` on the
    min-cost setting with recall_at_threshold ≥ target (selection
    order: meets-target, cost, higher recall, smaller num_hashes,
    smaller bands — total and engine-replayable); if nothing meets
    the target the best-recall row is chosen with
    ``meets_target = false`` (fail-visible).

    Validation: :func:`minhash_recall_estimate` measures the
    END-TO-END recall (banding + estimator error) at the chosen
    setting on a corpus sample — the closed form sizes, the
    measurement confirms (pytest-pinned). Without ``docs`` this is
    pure config arithmetic: the grid is model-sized, no corpus is
    touched.

    MEASURED LEG (r11): pass ``docs`` and the chosen row also carries
    ``measured_recall`` / ``measured_precision`` from
    :func:`minhash_recall_estimate` run at the chosen setting on an
    md5 document sample — the S-curve prices false positives
    analytically at threshold/2 (``fp_at_half_threshold``); the
    measured precision is the empirical check of that pricing, from
    the same end-to-end path production runs (measured precision ≥
    the analytic floor on planted-pair fixtures is pytest-pinned).
    Cost: ONE bounded collect of the model-sized grid to learn the
    chosen setting, then the quadratic-in-sample calibration with the
    same ``max_sample_pairs`` fail-by-name guard; non-chosen rows
    carry NULLs."""
    from pyspark.sql import Window

    if not 0.0 < threshold < 1.0:
        raise ValueError(
            f"minhash_tune: threshold={threshold} must be in (0, 1)")
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(
            f"minhash_tune: target_recall={target_recall} must be "
            f"in (0, 1]")
    from georiva_spark.functions.frames import local_frame
    grid = local_frame(
        spark, minhash_tune_grid(num_hashes_grid),
        "num_hashes int, bands int, rows_per_band int")

    def s_curve(s: float):
        return F.round(
            F.lit(1.0) - F.pow(
                F.lit(1.0) - F.pow(F.lit(float(s)),
                                   F.col("rows_per_band")),
                F.col("bands")), 6) + F.lit(0.0)

    priced = grid.select(
        "num_hashes", "bands", "rows_per_band",
        F.lit(float(threshold)).alias("threshold"),
        F.lit(float(target_recall)).alias("target_recall"),
        s_curve(threshold).alias("recall_at_threshold"),
        s_curve(threshold / 2.0).alias("fp_at_half_threshold"),
        (F.col("num_hashes") + F.col("bands")).cast("int")
        .alias("cost"))
    meets = (F.col("recall_at_threshold")
             >= F.lit(float(target_recall)))
    w = Window.orderBy(
        meets.desc(),
        F.when(meets, F.col("cost")).asc_nulls_last(),
        F.col("recall_at_threshold").desc(),
        F.col("num_hashes").asc(), F.col("bands").asc())
    out = (priced.withColumn("meets_target", meets)
           .withColumn("chosen", F.row_number().over(w) == 1))
    if docs is None:
        return out
    # measured leg: ONE bounded collect of the model-sized grid to
    # learn the chosen setting (the grid IS the model — never corpus
    # rows), then the end-to-end calibration at exactly that setting;
    # its recall/precision attach to the chosen row only
    c = out.where(F.col("chosen")).select(
        "num_hashes", "bands").collect()[0]
    est = minhash_recall_estimate(
        docs, threshold=threshold, sample_ppm=sample_ppm,
        num_hashes=int(c["num_hashes"]), bands=int(c["bands"]), n=n,
        key_col=key_col, text_col=text_col, portable=portable,
        max_sample_pairs=max_sample_pairs).select(
        F.col("recall").alias("__m_rec"),
        F.col("precision").alias("__m_prec"))
    return (out.crossJoin(F.broadcast(est))
            .withColumn("measured_recall",
                        F.when(F.col("chosen"), F.col("__m_rec")))
            .withColumn("measured_precision",
                        F.when(F.col("chosen"), F.col("__m_prec")))
            .drop("__m_rec", "__m_prec"))


def hamming_recall_estimate(codes: DataFrame, id_col: str = "media_id",
                            code_col: str = "code",
                            max_hamming: int = 3, bits: int = 64,
                            sample_ppm: int = 200_000,
                            salt: str = "hm-recall") -> DataFrame:
    """Calibration harness for the PERCEPTUAL (Hamming) family —
    completing the triad with
    :func:`~georiva_spark.operators.similarity.ann_recall_estimate`
    (embeddings) and :func:`minhash_recall_estimate` (text). Unlike
    those two, the pigeonhole banding is EXACT by construction: two
    codes within Hamming ``max_hamming`` must agree on one of the
    ``max_hamming + 1`` disjoint bands, and every candidate verifies
    with bit_count — so measured recall and precision are exactly
    1.0, and this harness is the executable PROOF of that guarantee
    against brute-force ground truth on an md5 sample (the number a
    user checks once before trusting the index family without a
    shortlist/nprobe trade).

    Scale shape: ground truth is all-pairs bit_count over the BOUNDED
    sample only; the candidate side is the production
    :func:`hamming_pairs` path on the same sample. → ONE row:
    (max_hamming, bits, n_items, true_pairs, caught_pairs, recall,
    flagged_pairs, precision)."""
    if not 0 < sample_ppm <= 1_000_000:
        raise ValueError(
            f"hamming_recall_estimate: sample_ppm={sample_ppm} must "
            f"be in (0, 1_000_000]")
    h = F.md5(F.concat_ws(":", F.lit(salt),
                          F.col(id_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") \
        % 1_000_000
    sample = persist_bounded(
        codes.where(bucket < sample_ppm).select(id_col, code_col),
        "hamming_recall_estimate.sample", StorageLevel.MEMORY_AND_DISK)
    a = sample.select(F.col(id_col).alias("id_a"),
                      F.col(code_col).alias("__ca"))
    bside = sample.select(F.col(id_col).alias("id_b"),
                          F.col(code_col).alias("__cb"))
    truth = (a.crossJoin(bside)
             .where(F.col("id_a") < F.col("id_b"))
             .where(F.bit_count(F.col("__ca").bitwiseXOR(F.col("__cb")))
                    <= max_hamming)
             .select("id_a", "id_b"))
    got = (hamming_pairs(sample, id_col=id_col, code_col=code_col,
                         max_hamming=max_hamming, bits=bits)
           .select("id_a", "id_b"))
    u = (truth.withColumn("__t", F.lit(1)).withColumn("__g", F.lit(0))
         .unionByName(got.withColumn("__t", F.lit(0))
                      .withColumn("__g", F.lit(1))))
    flat = (u.groupBy("id_a", "id_b")
            .agg(F.max("__t").alias("t"), F.max("__g").alias("g")))
    n_items = sample.count()
    ts = F.coalesce(F.sum("t"), F.lit(0))
    gs = F.coalesce(F.sum("g"), F.lit(0))
    both = F.coalesce(F.sum(F.col("t") * F.col("g")), F.lit(0))
    return flat.agg(
        F.lit(int(max_hamming)).cast("int").alias("max_hamming"),
        F.lit(int(bits)).cast("int").alias("bits"),
        F.lit(int(n_items)).cast("long").alias("n_items"),
        ts.cast("long").alias("true_pairs"),
        both.cast("long").alias("caught_pairs"),
        F.when(ts > 0, F.round(both.cast("double") / ts, 6))
        .alias("recall"),
        gs.cast("long").alias("flagged_pairs"),
        F.when(gs > 0, F.round(both.cast("double") / gs, 6))
        .alias("precision"))
