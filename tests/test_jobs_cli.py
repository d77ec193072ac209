"""Ops-path test: the north rule mandates jobs run via
``spark-submit --py-files`` — exercise that exact flow end to end."""

import json
import os
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.environ.get("SPARK_SUBMIT", "spark-submit")


def _make_pyfiles_zip(tmp_path) -> str:
    zip_path = str(tmp_path / "python_hll_spark.zip")
    pkg = os.path.join(REPO, "python_hll_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


@pytest.mark.slow
def test_spark_submit_build_ndv(tmp_path, spark):
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    # small deterministic input written by the already-running session
    from python_hll_spark.sources.seqs import seqs_table
    inp = str(tmp_path / "seqs")
    seqs_table(spark, 200, partitions=4).write.parquet(inp)

    zip_path = _make_pyfiles_zip(tmp_path)
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)

    def build_ndv(name, *extra):
        res = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
             "build-ndv", "--input", inp, "--output", str(tmp_path / name),
             "--group-cols", "source", "--n-salts", "4", *extra],
            capture_output=True, text=True, timeout=300, env=env,
            cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-2000:]
        rows = [json.loads(l) for l in res.stdout.strip().splitlines()
                if l.startswith("{")]
        # every JSON line of stdout (spark-submit hands the driver's stderr
        # to stdout as well) is a result row
        assert all({"source", "ndv"} <= set(r) for r in rows), rows
        return rows

    lines = build_ndv("ndv_out")
    assert len(lines) == 5  # one per source
    for row in lines:
        assert row["ndv"] > 0

    # the checkpointed build (chunked, manifest-committed) agrees per source
    from python_hll_spark.sources.state import SketchCheckpoint
    ckpt = build_ndv("ndv_ckpt_out", "--checkpoint", str(tmp_path / "ckpt"),
                     "--n-chunks", "2")
    chunks = SketchCheckpoint(str(tmp_path / "ckpt")).chunk_metrics()
    assert len(chunks) == 2 and sum(c["n_rows"] for c in chunks) == 200
    assert ({r["source"]: r["ndv"] for r in ckpt}
            == {r["source"]: r["ndv"] for r in lines})


@pytest.mark.slow
def test_spark_submit_prepare_corpus(tmp_path, spark):
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    ev = str(tmp_path / "eval")
    docs.where("doc_id % 25 = 0").selectExpr(
        "doc_id + 900000 AS doc_id", "text").write.parquet(ev)

    zip_path = _make_pyfiles_zip(tmp_path)
    out = str(tmp_path / "clean")
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "prepare-corpus", "--input", inp, "--output", out,
         "--eval-input", ev, "--min-quality", "0.0", "--redact-pii",
         "--line-dedup-min-docs", "2", "--decontaminate-ngram-n", "5",
         "--decontam-spans-k", "7"],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    final = json.loads(res.stdout.strip().splitlines()[-1])
    assert final["rows_out"] > 0
    assert "rows_after_decontamination" in res.stdout
    # span tier ran after the (stricter) 5-gram drop tier: flag threaded,
    # metrics emitted, nothing left for it to cut
    assert "rows_after_span_decontamination" in res.stdout
    assert "docs_span_cut" in res.stdout
    # decontaminated corpus has no doc whose content matches an eval doc
    got = spark.read.parquet(out)
    contaminated = {r["doc_id"] for r in docs.where("doc_id % 25 = 0").collect()}
    kept = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert not (kept & contaminated)


@pytest.mark.slow
def test_spark_submit_refresh_corpus(tmp_path, spark):
    """Two daily refreshes via the real spark-submit flow: day 0
    bootstraps both stores empty and keeps everything; day 1's re-crawls
    die (exact copy at the fingerprint tier, near copy at the signature
    tier) while a fresh doc survives and grows the stores."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    base = ("the quick brown fox jumps over the lazy dog while the band "
            "plays on and the crowd cheers loudly into the night air ")
    other = ("completely different subject matter involving ceramics and "
             "kiln temperatures with glaze chemistry at length " * 2)
    fresh = ("a third unrelated page on tidal patterns and lunar cycles "
             "observed across coastal measurement stations " * 2)
    day0 = str(tmp_path / "day0")
    spark.createDataFrame([(1, base * 2), (2, other)],
                          "doc_id long, text string").write.parquet(day0)
    day1 = str(tmp_path / "day1")
    spark.createDataFrame([
        (101, "  " + (base * 2).upper()),     # exact tier (normalized)
        (102, base * 2 + " tiny edit"),       # near tier
        (103, fresh),                         # survives
    ], "doc_id long, text string").write.parquet(day1)

    zip_path = _make_pyfiles_zip(tmp_path)
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    fp_store = str(tmp_path / "fp_store")
    near_store = str(tmp_path / "near_store")

    def run(inp, out):
        res = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path,
             job, "refresh-corpus", "--input", inp, "--output", out,
             "--fp-store", fp_store, "--near-store", near_store,
             "--threshold", "0.8", "--num-hashes", "64", "--bands", "16"],
            capture_output=True, text=True, timeout=300, env=env,
            cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    assert run(day0, str(tmp_path / "out0"))["rows_out"] == 2
    assert run(day1, str(tmp_path / "out1"))["rows_out"] == 1
    kept1 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out1")).collect()}
    assert kept1 == {103}
    # stores grew by exactly the survivor
    assert spark.read.parquet(fp_store).count() == 3
    assert (spark.read.parquet(near_store + "/sigs")
            .select("doc_id").distinct().count() == 3)

    # REPLAY day 1 (same input path -> same derived batch_id): the re-run
    # excludes its own earlier append from the store probe, reproduces the
    # same survivors, and overwrites its own store partitions — stores do
    # NOT grow across crash-replays of the same daily batch
    assert run(day1, str(tmp_path / "out1_replay"))["rows_out"] == 1
    assert {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out1_replay")).collect()} \
        == {103}
    assert spark.read.parquet(fp_store).count() == 3
    assert (spark.read.parquet(near_store + "/sigs")
            .select("doc_id").distinct().count() == 3)


@pytest.mark.slow
def test_spark_submit_refresh_corpus_tokens(tmp_path, spark):
    """Tokens-mode refresh via spark-submit: day-zero bootstrap, then an
    exact token-array re-crawl and a near copy die while a fresh
    sequence survives."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    base = list(range(200))
    other = list(range(1000, 1160))
    day0 = str(tmp_path / "day0")
    spark.createDataFrame([("d1", base), ("d2", other)],
                          "doc_id string, tokens array<int>") \
        .write.parquet(day0)
    day1 = str(tmp_path / "day1")
    spark.createDataFrame([
        ("x1", base),                                # exact tier
        ("x2", base + [7, 8, 9]),                    # near tier
        ("x3", [5000 + 3 * i for i in range(150)]),  # survives
    ], "doc_id string, tokens array<int>").write.parquet(day1)

    zip_path = _make_pyfiles_zip(tmp_path)
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    fp_store = str(tmp_path / "fp_store")
    near_store = str(tmp_path / "near_store")

    def run(inp, out):
        res = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path,
             job, "refresh-corpus", "--input", inp, "--output", out,
             "--fp-store", fp_store, "--near-store", near_store,
             "--content", "tokens", "--threshold", "0.8",
             "--num-hashes", "64", "--bands", "16"],
            capture_output=True, text=True, timeout=300, env=env,
            cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    assert run(day0, str(tmp_path / "out0"))["rows_out"] == 2
    assert run(day1, str(tmp_path / "out1"))["rows_out"] == 1
    kept1 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out1")).collect()}
    assert kept1 == {"x3"}
    assert spark.read.parquet(fp_store).count() == 3


@pytest.mark.slow
def test_spark_submit_ingest_then_chunk(tmp_path, spark):
    """The full front-to-back path via the real spark-submit flow:
    JSONL dump -> documents parquet + quarantine (counts conserve),
    then context-window chunks whose count obeys the closed-form law,
    then loader shards keyed on the composite (doc_id, chunk_idx)."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    words = " ".join(f"w{i}" for i in range(25))
    lines = [
        json.dumps({"url": "https://a.example/1", "text": words}),
        json.dumps({"url": "https://a.example/2", "text": "w0 w1 w2"}),
        json.dumps({"text": "no url"}),
        "garbage line {",
    ]
    dump = tmp_path / "dump.jsonl"
    dump.write_text("\n".join(lines) + "\n")

    zip_path = _make_pyfiles_zip(tmp_path)
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    docs = str(tmp_path / "docs")
    quar = str(tmp_path / "quar")
    chunks = str(tmp_path / "chunks")

    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "ingest-crawl", "--input", str(dump), "--output", docs,
         "--quarantine", quar, "--source", "cc-test"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    assert rec == {"good": 2, "quarantined": 2}

    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "chunk-corpus", "--input", docs, "--output", chunks,
         "--window", "10", "--stride", "5"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    # 25 words @ (10,5) -> ceil(15/5)+1 = 4 chunks; 3 words -> 1 chunk
    assert rec["chunks"] == 5
    back = spark.read.parquet(chunks)
    assert back.where("chunk_len > 10").count() == 0
    assert set(back.columns) == {"doc_id", "chunk_idx", "chunk_text",
                                 "chunk_len"}

    shards = str(tmp_path / "shards")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "write-shards", "--input", chunks, "--output", shards,
         "--n-shards", "2", "--seed", "7",
         "--id-col", "doc_id,chunk_idx"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    assert rec["rows"] == 5
    sharded = spark.read.parquet(shards)
    assert sharded.count() == 5
    assert (sharded.select("doc_id", "chunk_idx").distinct().count() == 5)


@pytest.mark.slow
def test_spark_submit_profile_corpus(tmp_path, spark):
    """The single-scan profile as an ops job: summary parquet lands with
    one row per source and sane NDV/p50 values, totals printed as JSON."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    from python_hll_spark.sources.seqs import seqs_table
    inp = str(tmp_path / "seqs")
    seqs_table(spark, 200, partitions=4).write.parquet(inp)

    zip_path = _make_pyfiles_zip(tmp_path)
    out = str(tmp_path / "profile")
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "profile-corpus", "--input", inp, "--output", out],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    assert rec["n_docs"] == 200
    assert rec["groups"] == len(rec["token_ndv_by_group"]) == 5
    back = spark.read.parquet(out)
    rows = {r["source"]: r for r in back.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["token_ndv"] > 0 and r["n_tok_p50"] > 0


@pytest.mark.slow
def test_spark_submit_tokenize_then_profile(tmp_path, spark):
    """tokenize-corpus emits the library input shape and profile-corpus
    consumes it unchanged: text docs -> token table (vocab persisted,
    then reused for a second batch with stable ids) -> profile report."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(300)
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)

    zip_path = _make_pyfiles_zip(tmp_path)
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    toks = str(tmp_path / "tokens")
    vocab = str(tmp_path / "vocab")

    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "tokenize-corpus", "--input", inp, "--output", toks,
         "--vocab-size", "500", "--vocab-out", vocab],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    # the synthetic corpus has a 31-word vocabulary, well under the cap —
    # so every word is in-vocab and NO token may be the OOV id
    assert rec["docs"] == 300 and rec["vocab_size"] == 31
    back = spark.read.parquet(toks)
    assert set(back.columns) == {"doc_id", "tokens", "n_tok", "source"}
    assert back.where("size(tokens) <> n_tok").count() == 0
    assert back.where("array_contains(tokens, 0)").count() == 0

    # second batch reuses the saved vocab -> identical ids for shared text
    toks2 = str(tmp_path / "tokens2")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "tokenize-corpus", "--input", inp, "--output", toks2,
         "--vocab-in", vocab],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    a = {r["doc_id"]: list(r["tokens"]) for r in back.collect()}
    b = {r["doc_id"]: list(r["tokens"])
         for r in spark.read.parquet(toks2).collect()}
    assert a == b

    # a batch with brand-new words, vocab grown IN PLACE (--vocab-in ==
    # --vocab-out): old ids must survive, new words append after them
    old_vocab = {r["word_hash"]: r["id"]
                 for r in spark.read.parquet(vocab).collect()}
    day2 = str(tmp_path / "day2")
    spark.createDataFrame(
        [(9001, "nebula nebula pulsar the", "web")],
        "doc_id long, text string, source string").write.parquet(day2)
    toks3 = str(tmp_path / "tokens3")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "tokenize-corpus", "--input", day2, "--output", toks3,
         "--vocab-in", vocab, "--extend-vocab", "--vocab-size", "500",
         "--vocab-out", vocab],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    assert rec["vocab_size"] == 33  # 31 + nebula + pulsar
    grown = {r["word_hash"]: r["id"]
             for r in spark.read.parquet(vocab).collect()}
    assert all(grown[h] == i for h, i in old_vocab.items())
    assert sorted(i for h, i in grown.items()
                  if h not in old_vocab) == [32, 33]
    t3 = spark.read.parquet(toks3).collect()[0]
    assert t3["n_tok"] == 4 and 0 not in t3["tokens"]

    prof = str(tmp_path / "profile")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "profile-corpus", "--input", toks, "--output", prof],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    assert rec["n_docs"] == 300 and rec["groups"] >= 1

    # pack the token table into training sequences with an eod separator:
    # conservation law — non-pad out == words in + one eod per doc
    n_words = spark.read.parquet(toks) \
        .agg({"n_tok": "sum"}).collect()[0][0]
    packed = str(tmp_path / "packed")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "pack-corpus", "--input", toks, "--output", packed,
         "--seq-len", "128", "--pad-id", "-1", "--eod-id", "-7"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    assert rec["nonpad_tokens"] == n_words + 300
    back = spark.read.parquet(packed)
    assert back.where("size(tokens) <> 128").count() == 0


@pytest.mark.slow
def test_spark_submit_select_budget(tmp_path, spark):
    """select-budget CLI: per-group budgets parse, the selection fits
    each budget and is maximal, and the output is the greedy hash-order
    prefix (validated against the library call in-process)."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")
    from pyspark.sql import functions as F

    from python_hll_spark.operators.sampling import token_budget_select

    inp = str(tmp_path / "docs")
    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
        (F.col("id") % 50 + 1).alias("n_tok"))
    df.write.parquet(inp)

    zip_path = _make_pyfiles_zip(tmp_path)
    out = str(tmp_path / "sel")
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "select-budget", "--input", inp, "--output", out,
         "--cost-col", "n_tok", "--by", "source",
         "--budgets", "0=9000,1=5000", "--seed", "7"],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    rec = [json.loads(l) for l in res.stdout.splitlines()
           if l.startswith("{")][-1]
    back = spark.read.parquet(out)
    assert rec["rows"] == back.count()
    # group '2' absent from --budgets: dropped entirely
    assert back.where("source = '2'").count() == 0
    per = {r["source"]: r["c"] for r in
           back.groupBy("source").agg(F.sum("n_tok").alias("c")).collect()}
    assert per["0"] <= 9000 and per["1"] <= 5000
    assert per["0"] > 9000 - 50 and per["1"] > 5000 - 50  # maximal
    # byte-identical to the library call: the CLI adds no hidden state
    lib = token_budget_select(df, {"0": 9000, "1": 5000}, cost_col="n_tok",
                              by="source", seed=7)
    assert (sorted(r["doc_id"] for r in back.collect())
            == sorted(r["doc_id"] for r in lib.collect()))


@pytest.mark.slow
def test_spark_submit_train_then_prepare_with_model(tmp_path, spark):
    """train-classifier -> prepare-corpus --model-weights: the trained
    model must flow through the CLI handoff (weights AND bias) and
    actually gate the corpus — originals (the positive class) survive
    the model filter, reversed-word mutants (negative class) drop."""
    import shutil
    if shutil.which(SPARK_SUBMIT) is None:
        pytest.skip("spark-submit not on PATH")

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    labeled = str(tmp_path / "labeled")
    docs.selectExpr("doc_id", "text", "1.0 AS y").unionByName(
        docs.selectExpr(
            "doc_id + 500000 AS doc_id",
            "array_join(transform(split(lower(trim(text)), '\\\\s+'), "
            "w -> reverse(w)), ' ') AS text", "0.0 AS y")) \
        .write.parquet(labeled)

    zip_path = _make_pyfiles_zip(tmp_path)
    model_out = str(tmp_path / "model")
    job = os.path.join(REPO, "python_hll_spark", "plans", "jobs.py")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "train-classifier", "--input", labeled, "--output", model_out,
         "--label-col", "y", "--n-buckets", "16384", "--iters", "10"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    metrics = json.loads(res.stdout.strip().splitlines()[-2])
    assert metrics["final_loss"] < metrics["first_loss"]

    # mixed corpus in, model filter on: positives kept, mutants dropped
    mixed = str(tmp_path / "mixed")
    spark.read.parquet(labeled).selectExpr(
        "doc_id", "text", "'web' AS source").write.parquet(mixed)
    out = str(tmp_path / "clean")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path, job,
         "prepare-corpus", "--input", mixed, "--output", out,
         "--min-quality", "0.0", "--skip-near-dedup",
         "--min-model-score", "0.5", "--model-weights", model_out],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-2000:]
    kept = {r["doc_id"] for r in
            spark.read.parquet(out).select("doc_id").collect()}
    originals = {r["doc_id"] for r in docs.select("doc_id").collect()}
    mutants = {i + 500000 for i in originals}
    assert len(kept & originals) / len(originals) >= 0.9
    assert len(kept & mutants) / len(mutants) <= 0.1
