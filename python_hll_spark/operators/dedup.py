"""Document deduplication operators: exact, MinHash+LSH, SimHash, and exact
n-gram/word-set Jaccard (the oracle the approximate paths are tested against).

Scale shape: exact dedup is a hash-groupBy on a 64-bit JVM-side fingerprint
(shuffles 8-byte keys, never text).  MinHash and SimHash each have ONE
signature kernel, a generator over token-hash array batches that the
tokens entry point runs as a mapInArrow pass; the text entry points are
adapters that feed the tokenizer's batches (lowercase, whitespace split,
murmur3 word hashes) straight into that kernel inside the SAME mapInArrow
(``map_word_hashes``), so text crosses into Python once.  The
near-dedup paths emit each doc's LSH band keys from that same pass, and
banding turns the quadratic pair search into one exchange on (band,
band_key) buckets, expanded to capped pairs by a window per bucket.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.functions.text import doc_fingerprint
from python_hll_spark.operators.aggregate import list_flat_offsets


# ------------------------------------------------------------------ exact
def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact (normalized) content hash."""
    return (df
            .withColumn("__fp", doc_fingerprint(F.col(text_col)))
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dupes"))
            .drop("__fp"))


def fingerprint_frame(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp bigint) distinct content fingerprints of ``df`` — the 8-byte/doc
    frame an incremental-dedup store persists between corpus refreshes."""
    return (df.select(doc_fingerprint(F.col(text_col)).alias("fp"))
            .distinct())


def incremental_dedup(new_df: DataFrame, seen_fps: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Dedup a NEW batch against a persisted fingerprint store — the daily
    -crawl-increment shape: yesterday's 100 TB corpus is represented by its
    (fp) frame (8 bytes/doc), today's batch is deduped within itself (min-id
    representative per fingerprint) and then anti-joined against the store.

    Scale shape: text never shuffles — the batch side reduces to one row
    per distinct fingerprint before the join, and both join sides are
    8-byte keys.  Write the store parquet bucketed by ``fp`` (see
    ``sources/bucketed``) to make the anti-join zero-Exchange on the store
    side; new fingerprints to append after a run are
    ``fingerprint_frame(kept_batch)``.

    Returns the surviving rows of ``new_df`` (all original columns)."""
    return _incremental_dedup_impl(
        new_df, seen_fps, doc_fingerprint(F.col(text_col)), id_col)


def fingerprint_frame_tokens(df: DataFrame,
                             tokens_col: str = "tokens") -> DataFrame:
    """(fp) store frame for PRE-TOKENIZED docs (the input_hint table
    shape): xxhash64 of the token array — order-sensitive, so equality is
    exactly the per-row token-array-equality invariant."""
    return (df.select(F.xxhash64(F.col(tokens_col)).alias("fp"))
            .distinct())


def incremental_dedup_tokens(new_df: DataFrame, seen_fps: DataFrame,
                             tokens_col: str = "tokens",
                             id_col: str = "doc_id") -> DataFrame:
    """``incremental_dedup`` over PRE-TOKENIZED docs: the exact tier keys
    on xxhash64 of the token array (see ``fingerprint_frame_tokens``);
    plan identical — batch collapses to one row per fingerprint, then an
    8-byte-key anti-join against the store."""
    return _incremental_dedup_impl(
        new_df, seen_fps, F.xxhash64(F.col(tokens_col)), id_col)


def _incremental_dedup_impl(new_df: DataFrame, seen_fps: DataFrame,
                            fp_expr, id_col: str) -> DataFrame:
    batch_rep = (new_df
                 .select(F.col(id_col), fp_expr.alias("__fp"))
                 .groupBy("__fp")
                 .agg(F.min(id_col).alias(id_col)))
    fresh = batch_rep.join(
        seen_fps.select(F.col("fp").alias("__fp")), "__fp", "left_anti")
    return new_df.join(fresh.select(id_col), id_col, "left_semi")


def fan_out_small_input(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than cores.

    Text-heavy stages (the Arrow tokenizer and signature kernels) are
    CPU-bound per partition; a small input that arrives as one file would
    otherwise run single-threaded.  At 100 TB
    inputs already carry thousands of partitions and this is a no-op —
    no shuffle is ever added to an adequately-partitioned scan."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------- tokenizer
def word_hash_list(txt):
    """The tokenizer: a pyarrow string array -> ``list<int64>`` array of
    its docs' word hashes (lowercase + ASCII-whitespace word split + 64-bit
    murmur3).  The split+hash is pure numpy over the contiguous utf-8
    buffer (``word_hash_segments`` — NOT ``pc.utf8_split_whitespace``,
    whose buffer-tail overread made the last token of a doc
    nondeterministic on Spark-delivered buffers; see its docstring).
    Empty/null docs yield an EMPTY token list."""
    import pyarrow as pa

    from python_hll_spark.functions.murmur3 import word_hash_segments

    hashes, counts = word_hash_segments(txt)
    tok_offsets = pa.array(
        np.concatenate([[0], np.cumsum(counts)]).astype(np.int32))
    return pa.ListArray.from_arrays(tok_offsets, pa.array(hashes))


def map_word_hashes(df: DataFrame, kernel, fields: str,
                    text_col: str = "text", keep: list = ()) -> DataFrame:
    """ONE ``mapInArrow`` of ``kernel`` over the tokenizer's ``(keep...,
    tokens)`` batches (``word_hash_list`` of ``text_col``): raw text
    crosses into Python once, and the word hashes go straight into a
    tokens kernel's generator instead of back to the JVM.  Every text
    entry point of the MinHash, SimHash, DSIR and classifier families is
    this call.  The kernel yields the ``keep`` columns, then ``fields``.
    Small inputs fan out first (``fan_out_small_input``)."""
    keep = list(keep)
    dtypes = dict(df.dtypes)
    schema = ", ".join([f"`{c}` {dtypes[c]}" for c in keep] + [fields])

    def tokenized(batches):
        import pyarrow as pa

        return kernel(pa.RecordBatch.from_arrays(
            [b.column(c) for c in keep] + [word_hash_list(b.column(text_col))],
            names=[*keep, "tokens"]) for b in batches)

    return (fan_out_small_input(df).select(*keep, text_col)
            .mapInArrow(tokenized, schema=schema))


def tokenize_word_hashes(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, tokens array<bigint>): lowercase + whitespace word split + 64-bit
    murmur3 word hashes, ONE Arrow pass — turns raw text into the
    pre-tokenized shape ``minhash_signatures_tokens`` consumes.  The text
    entry points fuse this tokenizer with their kernel instead
    (``map_word_hashes``); this is that pass with no kernel."""
    return map_word_hashes(df, lambda batches: batches,
                           "tokens array<bigint>", text_col, [id_col])


# ---------------------------------------------------------------- MinHash
def minhash_signatures(df: DataFrame, text_col: str = "text", n: int = 3,
                       num_hashes: int = 128,
                       id_col: str = "doc_id") -> DataFrame:
    """(id, sig array<bigint>): K permutation-minima over the word n-gram
    hashes of raw text.  Adapter: the tokenizer and the one MinHash kernel
    (``minhash_signatures_tokens``) in one ``map_word_hashes`` pass."""
    return map_word_hashes(df, _minhash_gen("tokens", id_col, n, num_hashes),
                           "sig array<bigint>", text_col, [id_col])


_EMPTY_SIG_SENTINEL = np.iinfo(np.int64).max


def minhash_signatures_tokens(df: DataFrame, tokens_col: str = "tokens",
                              n: int = 3, num_hashes: int = 128,
                              id_col: str = "doc_id") -> DataFrame:
    """MinHash signatures over a token array column (the input_hint table
    shape, or ``tokenize_word_hashes`` output) — the one MinHash kernel:
    ONE mapInArrow stage computes token n-gram hashes (vectorized chain
    over the chunk's flat token buffer with per-doc window masks) and the
    per-permutation minima in the same pass.  Docs with m >= n tokens get
    m-n+1 shingles; 0 < m < n gets one shingle over all m tokens; empty
    docs keep the sentinel signature (dropped at banding).

    Arrow-native: per-doc minima come from ``np.minimum.reduceat`` segment
    reductions — one vector hash pass per permutation across the batch,
    no per-row Python.  The permutation family is 2-universal multiply-add
    ``h_k(x) = A_k*x + B_k (mod 2^64)`` with odd ``A_k`` (a bijection):
    the shingle hashes are already splitmix64-mixed, so one multiply+add
    per permutation replaces a full finalizer pass.

    Output is join-compatible with ``lsh_candidate_pairs`` /
    ``connected_components`` — the rest of the dedup pipeline is shared."""
    id_type = dict(df.dtypes)[id_col]
    pruned = df.select(id_col, tokens_col)
    return pruned.mapInArrow(
        _minhash_gen(tokens_col, id_col, n, num_hashes),
        schema=f"`{id_col}` {id_type}, sig array<bigint>")


def _minhash_gen(tokens_col: str, id_col: str, n: int, num_hashes: int):
    """``minhash_signatures_tokens``'s generator: (id, tokens) -> (id, sig)."""
    ks = np.arange(1, num_hashes + 1, dtype=np.int64)
    A = splitmix64(ks, seed=0xA5).view(np.uint64) | np.uint64(1)
    B = splitmix64(ks, seed=0xB7).view(np.uint64)

    def compute(batches):
        import pyarrow as pa

        for batch in batches:
            col = batch.column(tokens_col)
            n_docs = len(col)
            if n_docs == 0:
                continue
            flat, offs = list_flat_offsets(col)
            lengths = np.diff(offs)
            sig_mat = np.full((n_docs, num_hashes),
                              np.iinfo(np.int64).max, dtype=np.int64)
            L = len(flat)
            GOLD = np.uint64(0x9E3779B97F4A7C15)
            if L:
                # Sliding windows make the n-gram chain expressible as
                # SHIFTED full-array passes — the window starting at flat
                # position i hashes ((H0[i] ^ H1[i+1]) * G ^ H2[i+2]) * G —
                # so one sequential splitmix pass per chain slot replaces
                # the per-window doc_of_w/within/start index build and its
                # three gathers (2-3x less kernel time, same bits out).
                acc_full = splitmix64(flat).view(np.uint64).copy()
                for j in range(1, n):
                    Hj = splitmix64(flat, seed=j).view(np.uint64)
                    acc_full[:max(L - j, 0)] ^= Hj[j:]
                    acc_full *= GOLD
                # valid long-doc window starts: every flat position except
                # each doc's last n-1 (marking also fully invalidates docs
                # with 0 < m < n, which are handled by the clamped path)
                valid = np.ones(L, dtype=bool)
                ends = offs[1:]
                for j in range(1, n):
                    ok = lengths >= j
                    valid[ends[ok] - j] = False
                sh_long = acc_full[valid]
                long_counts = np.where(lengths >= n, lengths - n + 1, 0)
                nonempty_long = long_counts > 0
                w_off_long = np.concatenate(
                    [[0], np.cumsum(long_counts)])[:-1][nonempty_long]
                # short docs (0 < m < n) get ONE window clamped at their
                # last token, with the true token count mixed in so docs
                # differing only by trailing repeats don't collide
                sidx = np.nonzero((lengths > 0) & (lengths < n))[0]
                acc_s = None
                if len(sidx):
                    s_start = offs[sidx]
                    s_last = s_start + lengths[sidx] - 1
                    acc_s = splitmix64(flat[s_start]).view(np.uint64).copy()
                    for j in range(1, n):
                        ij = np.minimum(s_start + j, s_last)
                        acc_s ^= splitmix64(flat[ij], seed=j).view(np.uint64)
                        acc_s *= GOLD
                    acc_s ^= splitmix64(lengths[sidx], seed=n).view(np.uint64)
                if len(sh_long):
                    # block the permutation loop over doc-aligned window
                    # slices that stay L2-resident: the k-loop re-reads its
                    # slice num_hashes times from cache instead of
                    # streaming a batch-sized buffer through DRAM per
                    # permutation (~num_hashes x less memory traffic; the
                    # per-doc minima are unchanged because blocks split
                    # only at doc boundaries)
                    idx_long = np.flatnonzero(nonempty_long)
                    n_ld = len(idx_long)
                    W = len(sh_long)
                    w_bounds = np.concatenate([w_off_long, [W]])
                    BLOCK = 131072
                    d0 = 0
                    while d0 < n_ld:
                        d1 = int(np.searchsorted(w_bounds,
                                                 w_bounds[d0] + BLOCK,
                                                 side="left"))
                        d1 = min(max(d1, d0 + 1), n_ld)
                        s0, s1 = int(w_bounds[d0]), int(w_bounds[d1])
                        sh = sh_long[s0:s1]
                        ob = w_off_long[d0:d1] - s0
                        rows = idx_long[d0:d1]
                        buf = np.empty_like(sh)
                        for k in range(num_hashes):
                            np.multiply(sh, A[k], out=buf)
                            buf += B[k]
                            sig_mat[rows, k] = np.minimum.reduceat(buf, ob) \
                                .astype(np.int64)
                        d0 = d1
                if acc_s is not None:
                    for k in range(num_hashes):
                        sig_mat[sidx, k] = (acc_s * A[k] + B[k]) \
                            .astype(np.int64)
            sig_offsets = pa.array(
                np.arange(0, (n_docs + 1) * num_hashes, num_hashes,
                          dtype=np.int32))
            sig_arr = pa.ListArray.from_arrays(sig_offsets,
                                               pa.array(sig_mat.ravel()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), sig_arr], names=[id_col, "sig"])

    return compute


def _band_keys(sig, bands: int):
    """The one band-key function: a ``list<int64>`` signature array ->
    its ``list<int64>`` band keys, ``bands`` per doc.  Band b of a
    K-slot signature sums (mod 2^64) the splitmix64(seed=b) hashes of its
    r = K // bands slots.  An empty-doc (all-sentinel) signature gets a
    NULL entry, so it bands into no bucket."""
    import pyarrow as pa

    n = len(sig)
    flat, _ = list_flat_offsets(sig)
    sig_mat = flat.reshape(n, -1) if n else flat.reshape(0, 0)
    K = sig_mat.shape[1]
    r = K // bands
    keys = np.empty((n, bands), dtype=np.int64)
    for b in range(bands):
        chunk = np.ascontiguousarray(sig_mat[:, b * r:(b + 1) * r])
        hashed = splitmix64(chunk.ravel(), seed=b).reshape(n, r)
        keys[:, b] = hashed.view(np.uint64).sum(axis=1).view(np.int64)
    empty = (sig_mat == _EMPTY_SIG_SENTINEL).all(axis=1)
    offsets = pa.array(np.arange(0, (n + 1) * bands, bands, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(keys.ravel()),
                                    mask=pa.array(empty))


def _with_band_keys(sig_gen, bands: int):
    """Compose a generator of ``(id, sig)`` batches with ``_band_keys``:
    each batch leaves with a ``bkeys`` column beside ``sig``, in the same
    Python crossing that computed (or received) the signatures."""

    def compute(batches):
        for batch in sig_gen(batches):
            yield batch.append_column("bkeys",
                                      _band_keys(batch.column("sig"), bands))

    return compute


_SIG_BKEYS = "sig array<bigint>, bkeys array<bigint>"


def _minhash_band_frame(df: DataFrame, tokens_col: str, n: int,
                        num_hashes: int, bands: int,
                        id_col: str) -> DataFrame:
    """(id, sig, bkeys): the MinHash kernel and the band keys of its
    signatures in ONE ``mapInArrow`` over a token array column."""
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, tokens_col).mapInArrow(
        _with_band_keys(_minhash_gen(tokens_col, id_col, n, num_hashes),
                        bands),
        schema=f"`{id_col}` {id_type}, {_SIG_BKEYS}")


def _minhash_band_frame_text(df: DataFrame, text_col: str, n: int,
                             num_hashes: int, bands: int,
                             id_col: str) -> DataFrame:
    """``_minhash_band_frame`` over raw text: the tokenizer, the MinHash
    kernel and the band keys in ONE ``map_word_hashes`` pass."""
    return map_word_hashes(
        df, _with_band_keys(_minhash_gen("tokens", id_col, n, num_hashes),
                            bands),
        _SIG_BKEYS, text_col, [id_col])


def _band_keys_frame(sig_df: DataFrame, bands: int,
                     id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_key) rows: ``posexplode`` of each doc's band keys,
    so empty-signature (sentinel) docs, whose ``bkeys`` is NULL, yield no
    row.  A frame from the fused MinHash pass already carries ``bkeys``
    and bands in the JVM alone; a plain (id, sig) frame gets its keys from
    one ``mapInArrow`` of ``_band_keys`` first.  Shared by the dedup
    bucket join, the store's ``bands`` rows and decontamination's
    train-vs-eval join."""
    if "bkeys" not in sig_df.columns:
        id_type = dict(sig_df.dtypes)[id_col]
        sig_df = sig_df.select(id_col, "sig").mapInArrow(
            _with_band_keys(lambda batches: batches, bands),
            schema=f"`{id_col}` {id_type}, {_SIG_BKEYS}")
    return sig_df.select(id_col,
                         F.posexplode("bkeys").alias("band", "band_key"))


def _capped_bucket_pairs(rows: DataFrame, bucket_cols: list,
                         id_col: str, max_bucket: int) -> DataFrame:
    """Candidate (id_a, id_b) pairs within each bucket (``bucket_cols``)
    of ``rows``, degrading buckets larger than ``max_bucket`` to a star
    against the bucket's min id: O(B) edges instead of O(B^2), and
    connectivity is kept.  Shared by MinHash-LSH band buckets, SimHash
    chunk buckets and the SRP/SemDeDup vector buckets
    (``similarity._capped_cosine_pairs``).

    Lazy, and ONE exchange on ``bucket_cols``: a window over the bucket
    gives its size and min id, singleton buckets drop out, and a second
    window over the same partitioning collects the member ids of buckets
    within the cap (at most ``max_bucket`` of them; an oversize bucket
    collects none).  One ``explode`` then emits every ``i < j`` pair of a
    small bucket and a ``(min id, id)`` star edge for each other member
    of an oversize bucket; ``distinct`` merges pairs found in several
    buckets."""
    w = Window.partitionBy(*bucket_cols)
    sized = (rows.select(*bucket_cols, id_col,
                         F.count(F.lit(1)).over(w).alias("__bsz"),
                         F.min(id_col).over(w).alias("__rep"))
             .where(F.col("__bsz") > 1))
    small = F.col("__bsz") <= max_bucket
    members = sized.select(
        id_col, "__rep", small.alias("__small"),
        F.collect_list(F.when(small, F.col(id_col))).over(w).alias("__ids"))
    anchor = F.when(F.col("__small"), F.col(id_col)).otherwise(F.col("__rep"))
    partners = F.when(F.col("__small"), F.col("__ids")) \
        .otherwise(F.array(F.col(id_col)))
    return (members.select(anchor.alias("id_a"),
                           F.explode(F.filter(partners,
                                              lambda j: j > anchor))
                           .alias("id_b"))
            .distinct())


def _est_jaccard(a, b):
    """Estimated Jaccard of two MinHash signature columns: the fraction of
    ``a``'s slots whose value ``b`` matches."""
    return (F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y),
                            lambda v: v)) / F.size(a))


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = 32,
                        id_col: str = "doc_id",
                        max_bucket: int = 512,
                        cache_out: list | None = None) -> DataFrame:
    """Band the signatures and self-join buckets -> (id_a, id_b, est_jaccard).

    est_jaccard = fraction of matching signature positions.

    Lazy: no Spark job runs before the returned frame's first action, and
    the band rows cross ONE exchange (``_capped_bucket_pairs``).  A frame
    from the fused MinHash pass (with ``bkeys``) bands in the JVM; a plain
    (id, sig) frame gets its band keys from one ``mapInArrow``.  Nothing
    is persisted here, so ``cache_out`` (kept for callers that pass a
    list to release) receives no entry; ``sig_df`` is read three times
    (banding and both sides of the scoring join), so pass it persisted.

    Scale hardening (the two ways banded LSH melts down at 100 TB):
    - docs with zero shingles keep the int64-max sentinel in every
      signature slot, so they'd all share every band key and pile into ONE
      bucket whose self-join emits O(E^2) pairs — they get NULL band keys
      and never enter a bucket (an empty doc has no meaningful Jaccard
      neighbours);
    - buckets larger than ``max_bucket`` switch from full pairwise
      expansion (O(B^2) pairs) to a star against the bucket's min id
      (O(B) pairs): connected-components connectivity survives, the
      quadratic blowup doesn't.  Real near-dup buckets are tiny; oversize
      buckets are hash-collision floods or exact-dup clusters, and exact
      dups should be removed by dedup_exact first anyway.
    """
    pairs = _capped_bucket_pairs(_band_keys_frame(sig_df, bands, id_col),
                                 ["band", "band_key"], id_col, max_bucket)
    sig_a = sig_df.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig_df.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    return joined.select("id_a", "id_b",
                         F.round(_est_jaccard("sig_a", "sig_b"), 6)
                         .alias("est_jaccard"))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                        num_hashes: int = 128, bands: int = 32,
                        threshold: float = 0.8, id_col: str = "doc_id",
                        max_bucket: int = 512) -> DataFrame:
    """Near-dup candidate pairs above ``threshold`` estimated Jaccard.

    Signatures and their band keys come from one pass; they are read 3x
    downstream (banding + both join sides) and are tiny (n_docs x
    (num_hashes + bands) int64), so they're persisted rather than
    recomputing the shingle+minhash pipeline per consumer; the cache lives
    until the session drops it.  Callers that own cache lifecycles use
    ``near_dedup``."""
    sigs = _minhash_band_frame_text(df, text_col, n, num_hashes, bands,
                                    id_col).persist()
    cand = lsh_candidate_pairs(sigs, bands, id_col, max_bucket=max_bucket)
    return cand.where(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------- SimHash
def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bigint): 64-bit sign-sum fingerprint over the word
    hashes of raw text.  Adapter: the tokenizer and the one SimHash kernel
    (``_simhash_kernel``) in one ``map_word_hashes`` pass; docs with no
    words get signature 0."""
    return map_word_hashes(df, _simhash_gen("tokens", id_col),
                           "simhash bigint", text_col, [id_col])


def _simhash_kernel(df: DataFrame, tokens_col: str,
                    id_col: str) -> DataFrame:
    """The one SimHash kernel, over a 64-bit token-hash array column.

    Arrow-native, no per-row Python: hash lists flatten zero-copy,
    ``np.unpackbits`` over the little-endian byte view yields the (words,
    64) bit matrix for a whole chunk at once, and ``np.add.reduceat`` at
    doc boundaries gives per-doc bit-vote sums; signatures re-assemble with
    ``np.packbits``.  Chunked at doc boundaries so the bit matrix stays
    ~8 MB regardless of batch size."""
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, tokens_col).mapInArrow(
        _simhash_gen(tokens_col, id_col),
        schema=f"`{id_col}` {id_type}, simhash bigint")


def _simhash_gen(tokens_col: str, id_col: str):
    """``_simhash_kernel``'s generator: (id, tokens) -> (id, simhash)."""
    CHUNK_WORDS = 131072  # 64-wide uint8 bit matrix ~8MB per chunk

    def compute(batches):
        import pyarrow as pa
        for batch in batches:
            wh = batch.column(tokens_col)
            n = len(wh)
            if n == 0:
                continue
            flat, offsets = list_flat_offsets(wh)  # n+1 doc boundaries
            lengths = np.diff(offsets)
            out = np.zeros(n, dtype=np.int64)
            # chunk over DOCS such that each chunk holds <= CHUNK_WORDS words
            doc_start = 0
            while doc_start < n:
                doc_end = int(np.searchsorted(
                    offsets, offsets[doc_start] + CHUNK_WORDS, side="left"))
                doc_end = max(doc_end - 1, doc_start + 1)
                doc_end = min(doc_end, n)
                lo, hi = offsets[doc_start], offsets[doc_end]
                seg = flat[lo:hi]
                seg_lengths = lengths[doc_start:doc_end]
                nonempty = seg_lengths > 0
                if seg.size and nonempty.any():
                    bits = np.unpackbits(
                        seg.view(np.uint8).reshape(-1, 8), axis=1,
                        bitorder="little").reshape(-1, 64)
                    starts = (offsets[doc_start:doc_end][nonempty] - lo)
                    sums = np.add.reduceat(bits.astype(np.int64), starts, axis=0)
                    votes = 2 * sums - seg_lengths[nonempty][:, None]
                    sigs = np.packbits(votes > 0, axis=1, bitorder="little") \
                        .view(np.int64).ravel()
                    idx = np.arange(doc_start, doc_end)[nonempty]
                    out[idx] = sigs
                doc_start = doc_end
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(out)],
                names=[id_col, "simhash"])

    return compute


def simhash_near_pairs(df: DataFrame, text_col: str = "text", max_hamming: int = 3,
                       id_col: str = "doc_id",
                       max_bucket: int = 512) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bucketed on 16-bit chunks
    (two of four chunks must match exactly when distance <= 3).

    Scale hardening (the ``_capped_bucket_pairs`` star rule of
    ``lsh_candidate_pairs``, lazy and one exchange on the chunk bucket):
    there are only 4 x 65,536 possible chunk buckets, so at web scale every
    bucket grows linearly with the corpus and a full pairwise self-join is
    quadratic per bucket.  Buckets larger than ``max_bucket`` degrade to a
    star against the bucket's min id — O(B) edges instead of O(B^2).
    Identical-signature floods (the realistic oversize bucket: exact-dup
    clusters, boilerplate) keep hamming 0 to the representative, so
    duplicate-cluster connectivity survives; genuinely dissimilar collision
    members are dropped by the hamming filter exactly as the pairwise path
    would drop them.

    The signatures are read three times (chunk buckets and both sides of
    the hamming join), so they are cached; the cache lives until the
    session drops it."""
    sigs = simhash_signatures(df, text_col, id_col).cache()
    chunks = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"),
                     F.shiftright(F.col("simhash"), 16 * i)
                     .bitwiseAND(F.lit(0xFFFF)).alias("ckey"))
            for i in range(4)])).alias("c")
    ).select(id_col, "c.chunk", "c.ckey")
    pairs = _capped_bucket_pairs(chunks, ["chunk", "ckey"], id_col,
                                 max_bucket)
    sh_a = sigs.select(F.col(id_col).alias("id_a"),
                       F.col("simhash").alias("sh_a"))
    sh_b = sigs.select(F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.join(sh_a, "id_a").join(sh_b, "id_b")
            .withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ------------------------------------------ duplicate-cluster resolution
# Edge lists up to this many rows are solved on the driver (~16 MB of id
# pairs); larger ones run the distributed star rounds
_CC_DRIVER_CAP = 1 << 20
# Round budget of the distributed path: star converges in O(log d) rounds,
# so running out means a graph no duplicate-cluster input produces
_CC_MAX_ROUNDS = 20


def _cc_star(edges: DataFrame) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., 'Connected
    Components in MapReduce and Beyond'): converges in O(log d) rounds,
    so adversarially long duplicate chains cannot stall the job.  Both
    operations preserve connectivity; at the fixed point the edge set is
    a star forest around each component's minimum.

    Edges are kept canonical big->small.  Convergence = (count,
    hash-checksum) of the edge set unchanged across one small-star round —
    one tiny action per phase.  Every round is checkpointed: RELIABLY
    (``sc.setCheckpointDir``, set by plans.session.get_spark) so a
    multi-hour run survives executor loss, else ``localCheckpoint``.
    Raises ``RuntimeError`` when ``_CC_MAX_ROUNDS`` rounds do not
    converge: a partial result breaks the component = min-member-id
    contract the keep rule relies on."""
    reliable = edges.sparkSession.sparkContext.getCheckpointDir() is not None

    def chk(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable \
            else df.localCheckpoint(eager=True)

    nodes = chk(edges.select(F.col("id_a").alias("node"))
                .unionByName(edges.select(F.col("id_b").alias("node")))
                .distinct())
    E = chk(edges.select(F.greatest("id_a", "id_b").alias("u"),
                         F.least("id_a", "id_b").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())

    def sig(e: DataFrame) -> tuple:
        row = e.agg(F.count("*").alias("n"),
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
                    .alias("h")).collect()[0]
        return (row["n"], row["h"])

    prev = sig(E)
    for _ in range(_CC_MAX_ROUNDS):
        # large-star: every neighbor bigger than `node` connects to the
        # minimum of node's closed neighborhood
        nbrs = (E.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
                .unionByName(E.select(F.col("v").alias("node"),
                                      F.col("u").alias("nbr"))))
        m = (nbrs.groupBy("node").agg(F.min("nbr").alias("mn"))
             .select("node", F.least("mn", F.col("node")).alias("m")))
        E = chk(nbrs.where(F.col("nbr") > F.col("node"))
                .join(m, "node")
                .select(F.col("nbr").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v")).distinct())
        # small-star: each big end re-points itself and all its smaller
        # neighbors at the neighborhood minimum
        mn = E.groupBy("u").agg(F.min("v").alias("m"))
        e_self = mn.select(F.col("u").alias("a"), F.col("m").alias("b"))
        e_nbr = (E.join(mn, "u")
                 .where(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b")))
        E = chk(e_self.unionByName(e_nbr)
                .select(F.greatest("a", "b").alias("u"),
                        F.least("a", "b").alias("v"))
                .where(F.col("u") != F.col("v")).distinct())
        cur = sig(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ROUNDS} "
            "large-star/small-star rounds")
    comp = E.groupBy("u").agg(F.min("v").alias("component")) \
        .select(F.col("u").alias("node"), "component")
    return (nodes.join(comp, "node", "left")
            .select(F.col("node").alias("id"),
                    F.coalesce("component", F.col("node")).alias("component")))


def _cc_driver_union_find(spark, edge_rows, id_type) -> DataFrame:
    """Components of a bounded, already-collected edge list: path-compressed
    union-find on the driver, each node labeled with its component's min
    member id — the exact contract of the distributed path (and checked
    against it in tests), in one createDataFrame instead of an iteration
    loop of checkpoint+collect actions.  The frame is built from an Arrow
    table, so it plans as a ``LocalTableScan`` with size statistics and
    the keep anti-joins downstream can broadcast it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    ids = list(parent)
    arrow_type = to_arrow_type(id_type)
    table = pa.table({
        "id": pa.array(ids, arrow_type),
        "component": pa.array([comp_min[find(n)] for n in ids], arrow_type)})
    schema = StructType([StructField("id", id_type, False),
                         StructField("component", id_type, False)])
    return spark.createDataFrame(table, schema)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected (id_a, id_b) edge list.

    Returns (id, component) where component is the min member id.

    Duplicate-cluster edge lists are normally tiny relative to the corpus
    (pairs survive a Jaccard/cosine threshold), so ONE bounded CollectLimit
    action fetches up to ``_CC_DRIVER_CAP`` (2^20) edges and, when that is
    all of them, a driver-side union-find solves the components; its
    (id, component) frame is built from an Arrow table, a
    ``LocalTableScan`` with size statistics, so a join against it can
    broadcast.  Above the cap the probe is discarded and the components
    come from distributed large-star/small-star rounds (``_cc_star``):
    pure DataFrame joins, O(log diameter) rounds, each checkpointed.  If
    ``_CC_MAX_ROUNDS`` (20) rounds do not converge it raises
    ``RuntimeError`` rather than return labels that are not yet the
    cluster minimum.  Both paths return the same components."""
    head = edges.select("id_a", "id_b").limit(_CC_DRIVER_CAP + 1).collect()
    if len(head) <= _CC_DRIVER_CAP:
        return _cc_driver_union_find(edges.sparkSession, head,
                                     edges.schema["id_a"].dataType)
    return _cc_star(edges)


def _duplicate_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """The keep rule: (id_col) rows of every id in a thresholded
    (id_a, id_b) edge list that is not its duplicate cluster's
    representative.  component IS the min member id (the
    ``connected_components`` contract), so the rule is a filter, not an
    agg + join.  Eager: the components are solved before it returns."""
    comps = connected_components(pairs)
    return (comps.where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col)))


# --------------------------------------------- incremental NEAR-dedup store
def _store_meta_path(path: str) -> str:
    import os
    return os.path.join(path, "meta.json")


def near_store_meta(path: str) -> dict | None:
    """Build parameters recorded in ``{path}/meta.json`` (None if absent —
    pre-meta stores keep working, they just skip parameter validation)."""
    import json
    import os
    p = _store_meta_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_store_meta(path: str, meta: dict) -> None:
    import json
    import os
    os.makedirs(path, exist_ok=True)
    tmp = _store_meta_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.rename(tmp, _store_meta_path(path))  # atomic on posix


def near_store_check(path: str, num_hashes: int | None = None,
                     bands: int | None = None, n: int | None = None) -> None:
    """Raise ``ValueError`` if the store's recorded build parameters differ
    from the probe's.  A mismatched probe would NOT error on its own — a
    64-hash signature zip_with a 128-hash store signature null-pads and
    caps est_jaccard at 0.5, so exact re-crawls silently survive.  No-op
    for stores without meta.json (validated executor-side instead by the
    signature-length assert in ``_incremental_near_dedup_impl``)."""
    meta = near_store_meta(path)
    if meta is None:
        return
    for name, want in (("num_hashes", num_hashes), ("bands", bands),
                       ("n", n)):
        have = meta.get(name)
        if want is not None and have is not None and have != want:
            raise ValueError(
                f"near store {path} was built with {name}={have}, but this "
                f"probe uses {name}={want}; signatures/band keys are "
                "position-dependent — rebuild the store or match its "
                "parameters")


def near_store_write(sig_df: DataFrame, path: str, bands: int = 32,
                     id_col: str = "doc_id", mode: str = "overwrite",
                     batch_id: str | int | None = None,
                     num_hashes: int | None = None,
                     n: int | None = None) -> None:
    """Persist a MinHash signature frame as a near-dup store: ``{path}/sigs``
    holds (id, sig) and ``{path}/bands`` the derived (id, band, band_key)
    rows, so a later corpus refresh bands NOTHING on the store side — the
    daily job reads 8-byte band keys straight off parquet.

    Layout: every write lands under its own Hive-style partition
    directory ``batch_id=<b>`` (``base`` for overwrite, the given or a
    generated unique id for appends), and build parameters go to
    ``{path}/meta.json``.  That makes appends REPLAY-IDEMPOTENT: a
    re-run with the same ``batch_id`` (e.g. a foreachBatch micro-batch
    replayed after a crash) overwrites its own subdirectory instead of
    duplicating rows — the same chunk-overwrite recipe as
    ``sources/state.py``.  On an object store the subdirectory swap
    becomes the store's commit protocol.

    Signatures must be built with the same ``num_hashes``/``n`` and banded
    with the same ``bands`` across appends (band keys are
    position-dependent); pass them so meta.json can enforce it
    (``near_store_check`` raises on mismatch)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if mode == "overwrite":
        import shutil
        for sub in ("sigs", "bands"):
            shutil.rmtree(f"{path}/{sub}", ignore_errors=True)
        batch_id = "base" if batch_id is None else batch_id
    else:
        # appends must match the existing build; overwrite REPLACES the
        # build, so its parameters only rewrite meta.json
        near_store_check(path, num_hashes=num_hashes, bands=bands, n=n)
        # a pre-batch_id flat store would be SHADOWED by the first
        # partitioned append (Spark ignores root-level files once a
        # batch_id= dir exists) — move its files under batch_id=legacy
        import os
        for sub in ("sigs", "bands"):
            migrate_flat_store_layout(os.path.join(path, sub))
        if batch_id is None:
            import uuid
            batch_id = uuid.uuid4().hex[:12]
    if mode == "overwrite" or near_store_meta(path) is None:
        _write_store_meta(path, {"num_hashes": num_hashes, "bands": bands,
                                 "n": n, "id_col": id_col})
    sig_df.write.mode("overwrite").parquet(
        f"{path}/sigs/batch_id={batch_id}")
    _band_keys_frame(sig_df, bands, id_col).write.mode("overwrite") \
        .parquet(f"{path}/bands/batch_id={batch_id}")


def near_store_read(spark, path: str,
                    exclude_batch_id=None) -> tuple[DataFrame, DataFrame]:
    """(sigs, bands) frames of a ``near_store_write`` store (the
    ``batch_id`` layout partition column is an implementation detail and
    is dropped).

    ``exclude_batch_id`` skips one append's partition — a job
    re-processing batch B must probe "the store WITHOUT B's own earlier
    append", or a crash-replay would see its own survivors in the store,
    drop them all as self-matches, and overwrite its partition with zero
    rows.  The filter is on the partition column, so the excluded
    subdirectory is pruned at the scan, not read-and-filtered."""

    def _read(sub: str) -> DataFrame:
        df = spark.read.parquet(f"{path}/{sub}")
        if exclude_batch_id is not None and "batch_id" in df.columns:
            df = df.where(F.col("batch_id").cast("string")
                          != str(exclude_batch_id))
        return df.drop("batch_id")

    return _read("sigs"), _read("bands")


def near_store_init(spark, path: str, id_type: str = "bigint",
                    id_col: str = "doc_id", num_hashes: int | None = None,
                    bands: int | None = None, n: int | None = None) -> None:
    """Create an EMPTY near-dup store (day-0 bootstrap for a streaming or
    first-ever incremental run): zero-row sigs/bands parquet with the
    store schema, so readers and appends work uniformly from batch one.
    Pass the build parameters so ``meta.json`` can reject mismatched
    probes/appends from day one."""
    empty_sigs = spark.createDataFrame(
        [], f"{id_col} {id_type}, sig array<bigint>")
    empty_bands = spark.createDataFrame(
        [], f"{id_col} {id_type}, band int, band_key bigint")
    empty_sigs.write.mode("overwrite").parquet(
        f"{path}/sigs/batch_id=init")
    empty_bands.write.mode("overwrite").parquet(
        f"{path}/bands/batch_id=init")
    _write_store_meta(path, {"num_hashes": num_hashes, "bands": bands,
                             "n": n, "id_col": id_col})


def _nfiles(d: str) -> int:
    import glob
    import os
    return len(glob.glob(os.path.join(d, "**", "*.parquet"),
                         recursive=True))


def _compact_swap(spark, live: str, tmp: str, old: str,
                  target_partitions: int, distinct: bool = False) -> dict:
    """The one atomic-swap compaction recipe both store kinds share
    (local FS; object stores substitute their commit protocol): read the
    live directory, rewrite into ``{tmp}/batch_id=compacted`` with
    ``target_partitions`` files, rename live aside to ``old``, rename tmp
    in, delete old.  Returns file counts before/after for ops logging."""
    import os
    import shutil

    before = _nfiles(live)
    df = spark.read.parquet(live)
    if "batch_id" in df.columns:
        df = df.drop("batch_id")
    if distinct:
        df = df.distinct()
    shutil.rmtree(tmp, ignore_errors=True)
    (df.repartition(target_partitions)
     .write.mode("overwrite").parquet(os.path.join(tmp,
                                                   "batch_id=compacted")))
    shutil.rmtree(old, ignore_errors=True)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _nfiles(live)}


def migrate_flat_store_layout(d: str) -> bool:
    """One-time, idempotent move of pre-``batch_id=`` root-level parquet
    part files into ``{d}/batch_id=legacy/``.

    Spark's partition discovery IGNORES root-level data files once any
    ``batch_id=`` subdirectory exists, so the FIRST new-layout append to
    a store written before the batch_id layout would silently hide the
    entire dedup history from every later probe (and a subsequent compact
    would delete it).  Every append path calls this first; per-file
    ``os.rename`` is atomic and a crash mid-migration resumes on the next
    append.  Returns True if any file moved."""
    import os
    if not os.path.isdir(d):
        return False
    flat = [f for f in os.listdir(d)
            if not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(d, f))]
    if not flat:
        return False
    dest = os.path.join(d, "batch_id=legacy")
    os.makedirs(dest, exist_ok=True)
    for f in flat:
        os.rename(os.path.join(d, f), os.path.join(dest, f))
    return True


def near_store_compact(spark, path: str, target_partitions: int = 8) -> dict:
    """Rewrite a store's accumulated per-batch appends into
    ``target_partitions`` files per side and atomically swap them in — the
    ops pass a year of daily refreshes needs (hundreds of small
    ``batch_id=`` directories would otherwise make every probe open
    hundreds of tiny parquet footers).  Probe results are byte-identical
    before/after; only the file layout changes (recipe: ``_compact_swap``)."""
    import os

    stats = {}
    for sub in ("sigs", "bands"):
        live = os.path.join(path, sub)
        migrate_flat_store_layout(live)
        stats[sub] = _compact_swap(
            spark, live, tmp=os.path.join(path, f".compact-{sub}"),
            old=os.path.join(path, f".old-{sub}"),
            target_partitions=target_partitions)
    return stats


def fp_store_compact(spark, path: str, target_partitions: int = 8) -> dict:
    """Compact an incremental-dedup FINGERPRINT store (per-batch
    ``batch_id=`` appends of (fp) rows, written by the refresh-corpus
    CLI) into ``target_partitions`` files — same atomic-swap recipe as
    ``near_store_compact`` (``_compact_swap``), plus a ``distinct()``:
    fingerprints are idempotent set members, so re-crawled duplicates
    across batches collapse for free here."""
    migrate_flat_store_layout(path)
    return _compact_swap(spark, path, tmp=path.rstrip("/") + ".compact-tmp",
                         old=path.rstrip("/") + ".old",
                         target_partitions=target_partitions, distinct=True)


def _fan_out_batch(new_df: DataFrame) -> DataFrame:
    """Rebalance a daily crawl batch before its signature kernel.

    A batch is commonly DERIVED — a date/id filter over a larger table —
    and a filtered scan keeps the parent's partition layout with most
    partitions empty: a 40 K-doc slice of an 8 M-doc table lands in ONE
    non-empty partition, and the mapInArrow signature stage (whose
    parallelism is exactly the input partition count) runs on one core no
    matter how many the cluster has.  ``fan_out_small_input`` cannot catch
    this (the partition COUNT looks healthy; the rows are skewed into a
    few), so the incremental entry points round-robin the batch across
    ``defaultParallelism`` up front.  The shuffle moves one pass of the
    batch — the SMALL side by contract — and is cheap insurance."""
    return new_df.repartition(
        new_df.sparkSession.sparkContext.defaultParallelism)


def incremental_near_dedup(new_df: DataFrame, store_sigs: DataFrame,
                           store_bands: DataFrame, threshold: float = 0.8,
                           num_hashes: int = 128, bands: int = 32, n: int = 3,
                           text_col: str = "text", id_col: str = "doc_id",
                           cache_out: list | None = None,
                           outputs: dict | None = None) -> DataFrame:
    """Near-dedup a NEW crawl batch against yesterday's corpus — the
    missing tier next to ``incremental_dedup`` (exact fingerprints): a new
    doc that is a NEAR-copy of anything already in the store is dropped
    without ever re-processing the store's text.

    Composition (every piece shared with the batch pipeline):
      1. within-batch ``near_dedup`` (signatures -> capped LSH ->
         connected components -> min-id representative);
      2. the batch's band keys BROADCAST-join the store's persisted band
         keys (the ``decontaminate`` train-vs-eval shape with the store as
         the train side: the store — the 100 TB object — is scanned once
         and never shuffled; the daily batch is the small side).  The
         probe uses ALL batch signatures, not just step-1 survivors —
         result-identical (extra hits can only name within-batch-dropped
         ids, and the final anti-joins run against post-collapse frames)
         and it decouples the store scans from step 1 so they overlap on
         a background thread;
      3. candidate store signatures score against the broadcast batch
         signatures; batch ids with est_jaccard >= ``threshold`` to ANY
         store doc are dropped (their whole within-batch cluster already
         collapsed into them in step 1).

    ``num_hashes``/``bands``/``n`` must match the store's build
    parameters (``near_store_check`` validates against the store's
    meta.json; a signature-length assert also fires executor-side on the
    first mismatched candidate pair).  Returns surviving rows of
    ``new_df`` (all columns).  The batch signature pass runs ONCE and is
    shared by the within-batch LSH, the store probe, AND the store-append
    frame: pass ``outputs={}`` and read ``outputs["survivor_sigs"]`` — the
    survivors' (id, sig) rows sliced from the already-computed batch
    signatures (NO second kernel pass) — then append it to the store via
    ``near_store_write(..., mode="append")``.  ``survivor_sigs`` reads the
    persist handles in ``cache_out``, so materialize it (e.g.
    ``localCheckpoint``) before unpersisting them or appending to the
    store the lineage probes.  The persist handles (the batch signatures
    with their band keys, and the store-probe hits) land in ``cache_out``
    when given, else live until the session releases them.  The batch is
    rebalanced before the signature kernel — see ``_fan_out_batch`` for
    why a derived batch needs it."""
    new_df = _fan_out_batch(new_df)
    sigs_all = _minhash_band_frame_text(new_df, text_col, n, num_hashes,
                                        bands, id_col)
    return _incremental_near_dedup_impl(new_df, sigs_all, store_sigs,
                                        store_bands, threshold, bands,
                                        id_col, cache_out, outputs)


def incremental_near_dedup_tokens(new_df: DataFrame, store_sigs: DataFrame,
                                  store_bands: DataFrame,
                                  threshold: float = 0.8,
                                  num_hashes: int = 128, bands: int = 32,
                                  n: int = 3, tokens_col: str = "tokens",
                                  id_col: str = "doc_id",
                                  cache_out: list | None = None,
                                  outputs: dict | None = None) -> DataFrame:
    """``incremental_near_dedup`` over PRE-TOKENIZED docs (the input_hint
    table shape): batch signatures come from the single-pass Arrow
    n-gram kernel instead of the text tokenizer; store probe, within-batch
    collapse, the ``outputs["survivor_sigs"]`` contract, and the batch
    rebalance (``_fan_out_batch``) are shared."""
    new_df = _fan_out_batch(new_df)
    sigs_all = _minhash_band_frame(new_df, tokens_col, n, num_hashes, bands,
                                   id_col)
    return _incremental_near_dedup_impl(new_df, sigs_all, store_sigs,
                                        store_bands, threshold, bands,
                                        id_col, cache_out, outputs)


def _incremental_near_dedup_impl(new_df: DataFrame, sigs_all: DataFrame,
                                 store_sigs: DataFrame,
                                 store_bands: DataFrame, threshold: float,
                                 bands: int, id_col: str,
                                 cache_out: list | None,
                                 outputs: dict | None = None) -> DataFrame:
    import uuid

    from pyspark import InheritableThread

    caches = cache_out if cache_out is not None else []
    # (id, sig, bkeys) from the ONE signature pass, shared by the
    # within-batch LSH, the store probe and the store-append slice; both
    # band-row frames below are a JVM posexplode of the cached bkeys
    sigs_all = sigs_all.persist()
    caches.append(sigs_all)
    cand0 = lsh_candidate_pairs(sigs_all, bands, id_col)

    # store probe, DECOUPLED from the within-batch collapse: probing with
    # ALL batch signatures (not just within-batch survivors) is
    # result-identical — an extra candidate/hit row can only name an id
    # the within-batch collapse drops, and both final anti-joins run
    # against post-collapse frames — and it lets the two store scans run
    # on a background thread OVERLAPPING the connected-components actions
    # below instead of serializing behind them.
    b_bands = _band_keys_frame(sigs_all, bands, id_col) \
        .withColumnRenamed(id_col, "__new_id")
    cand = (store_bands.join(F.broadcast(b_bands), ["band", "band_key"])
            .select(F.col(id_col).alias("__store_id"), "__new_id")
            .distinct())
    s_sigs = store_sigs.select(F.col(id_col).alias("__store_id"),
                               F.col("sig").alias("__s_sig"))
    # NOTE: broadcasting the FULL batch sig frame (not just candidate new
    # ids) is deliberate — it lets the batch-sig broadcast build
    # concurrently with the store bands scan instead of serializing
    # behind the candidate computation (a filtered-broadcast variant
    # measured 2x slower end-to-end for exactly that reason), and the
    # batch side is the small side by definition
    n_sigs = sigs_all.select(F.col(id_col).alias("__new_id"),
                             F.col("sig").alias("__n_sig"))
    match_frac = _est_jaccard("__s_sig", "__n_sig")
    # executor-side num_hashes guard: a mismatched store sig would
    # null-pad the zip_with and cap match_frac at min(K_s,K_n)/K_s — exact
    # re-crawls would silently survive.  assert_true costs one size()
    # comparison per CANDIDATE row (bounded, tiny) and fails the job with
    # a clear message instead
    sig_len_ok = F.assert_true(
        F.size("__s_sig") == F.size("__n_sig"),
        F.lit("near-dedup store/batch signature length mismatch — the "
              "store was built with a different num_hashes"))
    hits = (s_sigs.join(F.broadcast(cand), "__store_id")
            .join(F.broadcast(n_sigs), "__new_id")
            .where(sig_len_ok.isNull() & (match_frac >= threshold))
            .select(F.col("__new_id").alias(id_col)).distinct()
            .persist())
    caches.append(hits)

    probe_error: list = []
    sc = new_df.sparkSession.sparkContext
    probe_tag = f"near-dedup-store-probe-{uuid.uuid4().hex}"

    def _materialize_hits():
        try:
            sc.addJobTag(probe_tag)
            hits.count()
        except Exception as e:  # noqa: BLE001 - re-raised on the caller
            probe_error.append(e)

    probe = InheritableThread(target=_materialize_hits, daemon=True)
    probe.start()

    # within-batch collapse (same plan as near_dedup, sharing the banding
    # cache) — the connected-components actions run while the store probe
    # streams on the thread above
    # the probe is joined even when the collapse raises, so its store-scan
    # job never outlives this call and the frames the caller unpersists;
    # a failed collapse cancels the probe first and its own error
    # propagates.  The probe is found by a job tag, not a job group, so a
    # caller's job group (which stage attribution reads) is left alone
    try:
        pairs = (cand0.where(F.col("est_jaccard") >= threshold)
                 .select("id_a", "id_b"))
        drop_ids = _duplicate_ids(pairs, id_col)  # eager
        batch = new_df.join(drop_ids, id_col, "left_anti")
        b_sigs = sigs_all.select(id_col, "sig").join(drop_ids, id_col,
                                                     "left_anti")
    except BaseException:
        sc.cancelJobsWithTag(probe_tag)
        raise
    finally:
        probe.join()
    # a failed store probe fails THIS call (the collapse succeeded, or its
    # own exception would already be propagating), not a later action on
    # the returned frame
    if probe_error:
        raise probe_error[0]
    if outputs is not None:
        # survivors' signatures SLICED from the already-computed batch
        # signature cache — the store-append frame without a second
        # signature-kernel pass (the refresh hot path used to re-tokenize
        # and re-hash every survivor here)
        outputs["survivor_sigs"] = b_sigs.join(F.broadcast(hits), id_col,
                                               "left_anti")
    return batch.join(F.broadcast(hits), id_col, "left_anti")


def near_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               threshold: float = 0.8, num_hashes: int = 128, bands: int = 32,
               n: int = 3) -> DataFrame:
    """Near-duplicate REMOVAL of raw text: MinHash-LSH pair discovery ->
    connected components -> keep the min-id representative per duplicate
    cluster.  Adapter: the tokenizer, the MinHash kernel and the band
    keys in one ``map_word_hashes`` pass, then the pipeline shared with
    ``near_dedup_tokens``.

    Returns the deduplicated rows of ``df`` (all original columns)."""
    return _near_dedup_impl(
        df, _minhash_band_frame_text(df, text_col, n, num_hashes, bands,
                                     id_col),
        threshold, bands, id_col)


def near_dedup_tokens(df: DataFrame, tokens_col: str = "tokens",
                      id_col: str = "doc_id", threshold: float = 0.8,
                      num_hashes: int = 128, bands: int = 32,
                      n: int = 3) -> DataFrame:
    """Near-duplicate REMOVAL over PRE-TOKENIZED docs (the input_hint table
    shape) — the composition a 100 TB tokenized corpus actually runs:

        MinHash kernel + band keys (one shuffle-free Arrow pass emitting
                                   (id, sig, bkeys))
        -> lsh_candidate_pairs    (JVM posexplode of bkeys, ONE exchange
                                   on (band, band_key), capped buckets)
        -> connected_components   (a driver union-find, or large-star/
                                   small-star rounds above 2^20 edges)
        -> keep min-id representative per duplicate cluster (an
           anti-join that broadcasts the driver-built components frame)

    No Spark job runs before connected components collects the edge
    list.  Returns the deduplicated rows of ``df`` (all original columns)."""
    return _near_dedup_impl(
        df, _minhash_band_frame(df, tokens_col, n, num_hashes, bands, id_col),
        threshold, bands, id_col)


def _near_dedup_impl(df: DataFrame, sigs: DataFrame, threshold: float,
                     bands: int, id_col: str) -> DataFrame:
    """Shared body of ``near_dedup`` / ``near_dedup_tokens``.

    The keep rule (``_duplicate_ids``) drops every id whose component
    label is not itself; a graph whose components do not converge raises
    instead of dropping rows."""
    # (id, sig, bkeys) is read three times: banding and both sides of the
    # scoring join
    sigs = sigs.persist()
    cand = lsh_candidate_pairs(sigs, bands, id_col)
    pairs = (cand.where(F.col("est_jaccard") >= threshold)
             .select("id_a", "id_b"))
    # the keep rule solves the components eagerly (a collect, or
    # checkpoint + per-round actions), so the cache can go here
    drop_ids = _duplicate_ids(pairs, id_col)
    sigs.unpersist()
    return df.join(drop_ids, on=id_col, how="left_anti")


# ------------------------------------------------- exact Jaccard (oracle)
def jaccard_word_pairs(df: DataFrame, text_col: str = "text",
                       threshold: float = 0.5, id_col: str = "doc_id") -> DataFrame:
    """Exact word-set Jaccard pairs >= threshold (SQL-expressible oracle;
    shuffly — at 100TB you run minhash_dedup_pairs instead and verify a
    sample with this)."""
    words = (df.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
                    " "))).alias("w")))
    sizes = words.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = words.select(F.col(id_col).alias("id_a"), "w")
    b = words.select(F.col(id_col).alias("id_b"), "w")
    inter = (a.join(b, "w").where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ------------------------------------------- exact substring-span dedup
def _window_hash_starts(df: DataFrame, k: int, tokens_col: str,
                        id_col: str) -> DataFrame:
    """One row per k-token window: (id, start, __h).  Window hashes are
    computed in a single JVM pass per doc (``transform`` over a position
    ``sequence``, ``xxhash64`` of each ``slice``) BEFORE the explode, so
    the exploded frame carries 8-byte hashes — never materialized token
    slices (a stride-1 window explode that sliced after exploding would
    blow each doc up k-fold)."""
    hashes = F.expr(
        f"transform(sequence(1, size({tokens_col}) - {k - 1}), "
        f"i -> xxhash64(slice({tokens_col}, i, {k})))")
    return (df.where(F.size(tokens_col) >= k)
            .select(F.col(id_col), F.posexplode(hashes).alias("__pos", "__h"))
            .select(id_col, (F.col("__pos") + 1).alias("start"), "__h"))


def dedup_spans_tokens(df: DataFrame, k: int = 50, min_count: int = 2,
                       tokens_col: str = "tokens", id_col: str = "doc_id",
                       keep_spans: bool = False) -> DataFrame:
    """Exact substring-level dedup: remove every k-token window whose
    content occurs >= ``min_count`` times ACROSS THE CORPUS (within-doc
    repeats count too), the ExactSubstr tier of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better") at
    window granularity.  This is the tier between whole-doc dedup
    (``dedup_exact`` / MinHash) and intra-doc repetition stats: a doc
    that EMBEDS a boilerplate passage shared with other docs keeps its
    unique prose and loses just the duplicated span.

    Semantics: ALL occurrences of a duplicated window are removed (the
    published tool's default; keep-one would need a global tie-break
    order — remove-all is order-free and hence deterministic under any
    partitioning).  Overlapping/adjacent duplicated windows are merged
    into maximal spans before removal, so ``n_tokens_removed`` counts
    each position once.

    Returns ``df`` with ``tokens_col`` replaced by the cleaned array plus
    ``n_dup_windows`` (duplicated window starts in this doc),
    ``n_dup_spans`` (merged maximal spans), ``n_tokens_removed``, and —
    with ``keep_spans`` — ``dup_spans`` (the merged 1-based inclusive
    ``[s, e]`` intervals, empty array when none).  Callers on the
    input_hint shape recompute ``n_tok`` as ``size(tokens)`` afterwards.

    Scale shape (the exact algorithm is irreducibly global — this is the
    cheapest distributed form of it):
    - window hashing is one JVM pass per doc, exploded rows are
      (id, int, bigint) — the shuffles move ~16 bytes/token;
    - duplicate detection is one groupBy-count on the 8-byte hash with
      map-side partial aggregation (boilerplate-heavy partitions collapse
      locally; a window duplicated 10 M times costs one count per
      partition, not 10 M shuffled rows);
    - hits come from an equi-join of the window frame against the
      duplicated-hash set (AQE picks broadcast when the dup set is
      small), NOT from collect_list per hash — per-hash position lists
      are unbounded under mega-duplication, per-DOC lists (the next
      groupBy) are bounded by doc length;
    - span merging + token removal are pure JVM higher-order functions
      (aggregate/filter/exists), no Python in the plan anywhere.
    The window frame is evaluated twice (count pass + join pass) by
    design: rescanning parquet beats persisting a tokens-scale exploded
    frame at 100 TB.  64-bit hash collisions would merge distinct windows
    (~n_windows^2 / 2^64 — negligible and deterministic); exactness per
    the paper's tool, which also matches on hashes of this width.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wins = _window_hash_starts(df, k, tokens_col, id_col)
    dup = (wins.groupBy("__h").count()
           .where(F.col("count") >= min_count).select("__h"))
    hits = wins.join(dup, "__h").select(id_col, "start")
    return _remove_spans(df, hits, k, tokens_col, id_col, keep_spans,
                         ("n_dup_windows", "n_dup_spans",
                          "n_tokens_removed", "dup_spans"))


def _remove_spans(df: DataFrame, hits: DataFrame, k: int, tokens_col: str,
                  id_col: str, keep_spans: bool,
                  names: tuple[str, str, str, str]) -> DataFrame:
    """Shared tail of the span-removal operators: merge the per-doc hit
    ``start`` positions of ``hits`` (one row per flagged k-window start)
    into maximal 1-based inclusive spans, count windows/spans/removed
    tokens under the caller's column ``names``, and rewrite
    ``tokens_col`` with the spanned positions filtered out.  Pure JVM
    higher-order functions; the only exchange groups hit rows by doc."""
    n_windows, n_spans, n_removed, spans_name = names
    merged_expr = F.expr(f"""
        aggregate(
          __starts,
          cast(array() as array<struct<s:int,e:int>>),
          (acc, st) -> CASE
            WHEN size(acc) > 0 AND st <= element_at(acc, -1).e + 1
            THEN concat(slice(acc, 1, size(acc) - 1),
                        array(named_struct(
                            's', element_at(acc, -1).s,
                            'e', greatest(element_at(acc, -1).e,
                                          st + {k - 1}))))
            ELSE concat(acc, array(named_struct('s', st,
                                                'e', st + {k - 1})))
          END)""")
    spans = (hits.groupBy(id_col)
             .agg(F.sort_array(F.collect_list("start")).alias("__starts"))
             .select(id_col,
                     F.size("__starts").alias(n_windows),
                     merged_expr.alias("__spans")))
    return (df.join(spans, id_col, "left")
            .withColumn(n_windows,
                        F.coalesce(n_windows, F.lit(0)))
            .withColumn(n_spans,
                        F.when(F.col("__spans").isNull(), F.lit(0))
                        .otherwise(F.size("__spans")))
            .withColumn(n_removed,
                        F.coalesce(
                            F.expr("aggregate(__spans, 0, "
                                   "(a, p) -> a + p.e - p.s + 1)"),
                            F.lit(0)))
            .withColumn(tokens_col,
                        F.when(F.col("__spans").isNull(), F.col(tokens_col))
                        .otherwise(F.expr(
                            f"filter({tokens_col}, (x, i) -> "
                            "not exists(__spans, "
                            "p -> i + 1 >= p.s and i + 1 <= p.e))")))
            .withColumns({spans_name: F.coalesce(
                F.col("__spans"),
                F.expr("cast(array() as array<struct<s:int,e:int>>)"))}
                if keep_spans else {})
            .drop("__spans"))
