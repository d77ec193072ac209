"""DSIR-style data selection: hashed n-gram importance resampling.

Implements the Data Selection via Importance Resampling recipe
(Xie et al. 2023, arXiv:2302.03169) the way a Spark pipeline should:

1. featurize every doc as a bag of HASHED unigram+bigram buckets
   (``buckets`` ~ 10k, the paper's setting): ``pmod(xxhash64(t), buckets)``
   per token and ``pmod(xxhash64(a, b), buckets)`` per adjacent pair,
   computed inside ONE Arrow kernel per stage by a bit-exact vectorized
   replica of Spark's ``xxhash64`` (``hashing.xxhash64_int``);
2. fit two bag-of-buckets unigram models — target corpus ``p`` and raw
   corpus ``q`` — each one kernel pass emitting at most ``buckets``
   partial rows per task, then a tiny sum (``bucket_counts_tokens``);
3. score every raw doc with the log importance weight
   ``sum_f count(f) * (ln p[f] - ln q[f])`` as a numpy gather against the
   broadcast ``float64[buckets]`` log-ratio table inside the same kind of
   kernel pass (``dsir_weights_tokens``) — no occurrence rows, no join,
   no shuffle;
4. resample with seeded Gumbel top-k (the paper's sampling-without-
   replacement trick: argmax of ``w + Gumbel`` ~ sampling proportional to
   ``exp(w)``), planned as TakeOrderedAndProject — count-free, bounded
   driver result, no global sort.

There is one kernel per step, a generator over token batches.  The text
entry points (``bucket_counts``, ``dsir_weights``, ``dsir_select``) are
adapters: ``map_word_hashes`` runs the tokenizer (lowercase,
ASCII-whitespace split, 64-bit murmur3 word hashes) and the tokens kernel
in one Arrow pass, so text crosses into Python once.  A text feature is
xxhash64 of a word HASH, not of the word string, and a doc with no words
has no features and drops out of the weights frame.

The reference library (AdRoll/python-hll) has no selection surface at all;
this operator exists for the training-data-pipeline tier of the target
engine.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_hll_spark.functions.hashing import xxhash64_int
from python_hll_spark.operators.aggregate import list_flat_offsets
from python_hll_spark.operators.dedup import map_word_hashes


def hashed_ngram_features_tokens(tokens: Column, buckets: int = 10000,
                                 bigrams: bool = True) -> Column:
    """JVM-expression featurizer for a token array column: one bucket per
    token occurrence plus one per adjacent token pair (``xxhash64(a, b)``).
    No operator runs it; it is the spec the Arrow kernels of
    ``bucket_counts_tokens`` / ``dsir_weights_tokens`` are pinned against
    bit for bit (explode it and aggregate, or feed it to
    ``_weights_impl``)."""
    uni = F.transform(tokens, lambda t: F.pmod(F.xxhash64(t),
                                               F.lit(buckets)))
    if not bigrams:
        return uni
    idx = F.when(F.size(tokens) >= 2,
                 F.sequence(F.lit(1), F.size(tokens) - 1)) \
        .otherwise(F.array().cast("array<int>"))
    big = F.transform(
        idx,
        lambda i: F.pmod(F.xxhash64(F.element_at(tokens, i),
                                    F.element_at(tokens, i + 1)),
                         F.lit(buckets)))
    return F.concat(uni, big)


def bucket_counts(df: DataFrame, text_col: str = "text",
                  buckets: int = 10000, bigrams: bool = True) -> DataFrame:
    """(bucket bigint, cnt bigint) hashed-feature occurrence counts of raw
    text — the sufficient statistics of a bag-of-buckets unigram model.
    Adapter: the tokenizer and the ``bucket_counts_tokens`` kernel in one
    ``map_word_hashes`` pass over the word hashes (counts are corpus-wide,
    so no column rides along)."""
    partials = map_word_hashes(df, _bucket_count_gen("tokens", buckets,
                                                     bigrams),
                               "bucket bigint, cnt bigint", text_col)
    return partials.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def bucket_counts_tokens(df: DataFrame, tokens_col: str = "tokens",
                         buckets: int = 10000,
                         bigrams: bool = True) -> DataFrame:
    """Hashed-feature counts of a token array column — as ONE Arrow kernel
    pass: per-task ``np.bincount`` over the bit-exact vectorized
    ``pmod(xxhash64(...), buckets)`` featurizer (``hashing.xxhash64_int``),
    emitting at most ``buckets`` (bucket, cnt) partial rows per task for a
    final tiny sum.  Counts are integers, so the result is EXACTLY the
    explode + groupBy plan's, without materializing ~2 JVM rows per token."""
    partials = df.select(tokens_col).mapInArrow(
        _bucket_count_gen(tokens_col, buckets, bigrams),
        schema="bucket bigint, cnt bigint")
    return partials.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def _bucket_count_gen(tokens_col: str, nb: int, bigrams: bool):
    """``bucket_counts_tokens``'s generator: tokens -> per-task partials."""
    def gen(batches):
        import pyarrow as pa

        acc = np.zeros(nb, dtype=np.int64)
        for batch in batches:
            flat, offs = list_flat_offsets(batch.column(tokens_col), None)
            if len(flat) == 0:
                continue
            h_uni = xxhash64_int(flat, 42)
            acc += np.bincount(np.remainder(h_uni, nb), minlength=nb)
            if bigrams and len(flat) > 1:
                bb = np.remainder(
                    xxhash64_int(flat[1:], h_uni[:-1].view(np.uint64)), nb)
                last = offs[1:] - 1
                valid = np.ones(len(flat) - 1, dtype=bool)
                valid[last[(last >= 0) & (last < len(flat) - 1)]] = False
                acc += np.bincount(bb[valid], minlength=nb)
        nz = np.flatnonzero(acc)
        if len(nz) == 0:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(nz, pa.int64()), pa.array(acc[nz], pa.int64())],
            names=["bucket", "cnt"])
    return gen


def dsir_logratio(target_counts: DataFrame, raw_counts: DataFrame,
                  buckets: int = 10000, alpha: float = 1.0) -> DataFrame:
    """(bucket, logratio double): ``ln p_target[b] - ln q_raw[b]`` with
    add-``alpha`` smoothing over the full bucket space, so buckets absent
    from either side stay finite.  Inputs are buckets-row frames; the two
    total-count lookups are aggregations over those frames (never a corpus
    re-scan).  The result is KBs — broadcast it at the scoring join."""
    t_total = target_counts.agg(F.sum("cnt")).first()[0] or 0
    r_total = raw_counts.agg(F.sum("cnt")).first()[0] or 0
    t_denom = float(t_total + alpha * buckets)
    r_denom = float(r_total + alpha * buckets)
    spark = target_counts.sparkSession
    # smoothing gives absent buckets a NONZERO constant log-ratio, so the
    # frame must cover the full bucket space, not just observed buckets
    full = spark.range(buckets).select(F.col("id").alias("bucket"))
    t = target_counts.withColumnRenamed("cnt", "t_cnt")
    r = raw_counts.withColumnRenamed("cnt", "r_cnt")
    return (full.join(t, "bucket", "left").join(r, "bucket", "left")
            .select(
                "bucket",
                (F.log((F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(alpha))
                       / F.lit(t_denom))
                 - F.log((F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(alpha))
                         / F.lit(r_denom))).alias("logratio")))


def dsir_weights(df: DataFrame, logratio: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", buckets: int = 10000,
                 bigrams: bool = True) -> DataFrame:
    """(id, n_features, dsir_weight): per-doc log importance weight of raw
    text — the feature-count-weighted sum of the log-ratios.  Adapter: the
    tokenizer and the ``dsir_weights_tokens`` kernel in one
    ``map_word_hashes`` pass over the word hashes, so docs with no words
    drop out and ``logratio`` is collected eagerly (see there)."""
    return map_word_hashes(
        df, _dsir_weight_gen(logratio, "tokens", id_col, buckets, bigrams),
        "n_features bigint, dsir_weight double", text_col, [id_col])


def dsir_weights_tokens(df: DataFrame, logratio: DataFrame,
                        tokens_col: str = "tokens", id_col: str = "doc_id",
                        buckets: int = 10000,
                        bigrams: bool = True) -> DataFrame:
    """Per-doc DSIR weights of a token array column — as ONE Arrow kernel
    pass instead of explode + broadcast join + re-aggregate.

    The explode materializes ~2 JVM rows per token (a billion-row frame
    per 500M-token batch) only to look each one up in a 10k-row broadcast
    table and sum per doc.  The kernel does the same lookup as a numpy
    gather against the broadcast ``float64[buckets]`` ratio table inside
    the scan, with the featurizer a BIT-EXACT vectorized replication of
    the JVM ``pmod(xxhash64(...), buckets)`` path (``hashing.xxhash64_int``,
    pinned against ``F.xxhash64``), so per-doc feature buckets — and
    therefore ``n_features`` — are identical to the join plan's.  Docs
    with zero (matched) features drop out exactly like the inner join;
    per-doc float sums agree with the join plan up to summation-order ulp
    (same tolerance class as any shuffle-order change).

    NOTE: materializes ``logratio`` eagerly (buckets-row collect — the
    same rows the join plan would broadcast)."""
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, tokens_col).mapInArrow(
        _dsir_weight_gen(logratio, tokens_col, id_col, buckets, bigrams),
        schema=f"`{id_col}` {id_type}, n_features bigint, "
               f"dsir_weight double")


def _dsir_weight_gen(logratio: DataFrame, tokens_col: str, id_col: str,
                     nb: int, bigrams: bool):
    """``dsir_weights_tokens``'s generator: (id, tokens) -> (id,
    n_features, dsir_weight).  Collects ``logratio`` into a broadcast
    ``float64[nb]`` table now; each task reads it once."""
    table = np.zeros(nb, dtype=np.float64)
    present = np.zeros(nb, dtype=bool)
    for r in logratio.select("bucket", "logratio").collect():
        table[r["bucket"]] = r["logratio"]
        present[r["bucket"]] = True
    all_present = bool(present.all())
    sc = logratio.sparkSession.sparkContext
    bc = sc.broadcast((table, None if all_present else present))

    def gen(batches):
        import pyarrow as pa

        tbl, pres = bc.value
        for batch in batches:
            flat, offs = list_flat_offsets(batch.column(tokens_col), None)
            lens = offs[1:] - offs[:-1]
            h_uni = xxhash64_int(flat, 42)
            ub = np.remainder(h_uni, nb)
            contrib = tbl[ub]
            if pres is not None:
                uok = pres[ub]
                contrib = np.where(uok, contrib, 0.0)
                ucnt_all = np.concatenate([[0], np.cumsum(uok)])
                n_feat = ucnt_all[offs[1:]] - ucnt_all[offs[:-1]]
            else:
                n_feat = lens.copy()
            csum = np.concatenate([[0.0], np.cumsum(contrib)])
            weight = csum[offs[1:]] - csum[offs[:-1]]
            if bigrams and len(flat) > 1:
                # pair hash folds the running hash as the next seed, so
                # the first element's unigram hash is reused directly
                bb = np.remainder(
                    xxhash64_int(flat[1:], h_uni[:-1].view(np.uint64)), nb)
                bcontrib = tbl[bb]
                last = offs[1:] - 1
                valid = np.ones(len(flat) - 1, dtype=bool)
                valid[last[(last >= 0) & (last < len(flat) - 1)]] = False
                if pres is not None:
                    valid &= pres[bb]
                bcontrib = np.where(valid, bcontrib, 0.0)
                bcsum = np.concatenate([[0.0], np.cumsum(bcontrib)])
                cap = len(flat) - 1
                s = np.minimum(offs[:-1], cap)
                e = np.maximum(np.minimum(offs[1:] - 1, cap), s)
                weight = weight + (bcsum[e] - bcsum[s])
                vcnt = np.concatenate([[0], np.cumsum(valid)])
                n_feat = n_feat + (vcnt[e] - vcnt[s])
            keep = n_feat > 0
            ids = batch.column(id_col)
            if not keep.all():
                mask = pa.array(keep)
                ids = ids.filter(mask)
                n_feat = n_feat[keep]
                weight = weight[keep]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(n_feat.astype(np.int64), pa.int64()),
                 pa.array(weight, pa.float64())],
                names=[id_col, "n_features", "dsir_weight"])

    return gen


def _weights_impl(df: DataFrame, feats: Column, logratio: DataFrame,
                  id_col: str) -> DataFrame:
    """Explode + broadcast-join scoring plan: the reference the
    ``dsir_weights_tokens`` kernel is checked against."""
    occ = df.select(F.col(id_col), F.explode(feats).alias("bucket"))
    return (occ.join(F.broadcast(logratio), "bucket")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_features"),
                 F.sum("logratio").alias("dsir_weight")))


def dsir_resample(df: DataFrame, weights: DataFrame, k: int,
                  id_col: str = "doc_id", seed: int = 42,
                  gumbel: bool = True) -> DataFrame:
    """Select ``k`` rows of ``df`` by importance weight.

    ``gumbel=True`` (the paper's estimator): key = weight + Gumbel noise
    seeded from ``xxhash64(seed, id)`` — deterministic for a given seed,
    equivalent to sampling without replacement proportional to
    ``exp(weight)``.  ``gumbel=False``: plain top-k by weight.
    Either way the selection plans as TakeOrderedAndProject (bounded
    per-task heaps, driver merges heads) — count-free and never a global
    sort of the corpus."""
    two53 = float(1 << 53)
    u = (F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(1 << 53))
         .cast("double") + F.lit(1.0)) / F.lit(two53 + 2.0)
    key = F.col("dsir_weight") + (-F.log(-F.log(u)) if gumbel else F.lit(0.0))
    picked = (weights.select(F.col(id_col), key.alias("__key"))
              .orderBy(F.desc("__key"), F.asc(id_col))
              .limit(k))
    return df.join(F.broadcast(picked.select(id_col)), id_col, "left_semi")


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                buckets: int = 10000, bigrams: bool = True,
                alpha: float = 1.0, seed: int = 42,
                gumbel: bool = True) -> DataFrame:
    """End-to-end DSIR: fit target/raw hashed-ngram models, weight every
    raw doc, Gumbel-top-k resample.  Two corpus scans total (one per model;
    the scoring pass re-reads raw — at 100 TB callers should persist the
    weights frame if they also want it for analysis)."""
    t_counts = bucket_counts(target, text_col, buckets, bigrams)
    r_counts = bucket_counts(raw, text_col, buckets, bigrams)
    lr = dsir_logratio(t_counts, r_counts, buckets, alpha)
    w = dsir_weights(raw, lr, text_col, id_col, buckets, bigrams)
    return dsir_resample(raw, w, k, id_col, seed, gumbel)


def reference_dsir_weights(rows, target_rows, buckets=10000, bigrams=True,
                           alpha=1.0, hasher=None):
    """Pure-Python oracle of the weight math for tests: the tokenizer's
    normalization (lowercase, whitespace split; ASCII text assumed), same
    smoothing, and docs without features omitted.  The caller supplies
    ``hasher(s) -> bucket`` for each word ``s`` and each ``"a b"`` word
    pair, matching the Spark-side hash (tests pass a collected lookup)."""
    def featurize(text):
        words = str(text or "").lower().split()
        feats = [hasher(w) for w in words]
        if bigrams and len(words) >= 2:
            feats += [hasher(f"{a} {b}")
                      for a, b in zip(words, words[1:])]
        return feats

    def counts(rs):
        c = {}
        for _, text in rs:
            for f in featurize(text):
                c[f] = c.get(f, 0) + 1
        return c

    tc, rc = counts(target_rows), counts(rows)
    t_denom = sum(tc.values()) + alpha * buckets
    r_denom = sum(rc.values()) + alpha * buckets
    out = {}
    for doc_id, text in rows:
        feats = featurize(text)
        if not feats:
            continue
        w = 0.0
        for f in feats:
            w += (math.log((tc.get(f, 0) + alpha) / t_denom)
                  - math.log((rc.get(f, 0) + alpha) / r_denom))
        out[doc_id] = w
    return out
