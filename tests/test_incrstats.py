"""Incrementally-maintained token statistics (llmdata.incrstats):
update/delete delta arithmetic, idempotent re-application, and the
adoption contract — consumers fed from the maintained tables must be
value-identical to the scan path."""

import tempfile
from collections import Counter

from pyspark.sql import functions as F

from databricks_incremental_lakehouse_spark import memo
from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
    DOC_ARRIVAL_MOD,
    adopt_token_stats,
    apply_doc_updates,
    bigram_stats,
    doc_stats,
    init_token_stats,
    token_stats,
)
from databricks_incremental_lakehouse_spark.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected(corpus: dict[int, str]):
    tok = {d: t.lower().split() for d, t in corpus.items() if t is not None}
    tf = {d: Counter(ts) for d, ts in tok.items()}
    tstats = Counter()
    df = Counter()
    for c in tf.values():
        for t, n in c.items():
            tstats[t] += n
            df[t] += 1
    bg = Counter()
    for ts in tok.values():
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] += 1
    return tstats, df, {d: sum(c.values()) for d, c in tf.items()}, bg


def _assert_matches(spark, root, corpus):
    occ, df, dl, bg = _expected(corpus)
    got_tok = {
        r.token: (r.df, r.occurrences) for r in token_stats(spark, root).collect()
    }
    assert got_tok == {t: (df[t], float(n)) for t, n in occ.items()}
    got_dl = {r.doc_id: r.dl for r in doc_stats(spark, root).collect()}
    assert got_dl == {d: float(n) for d, n in dl.items() if n > 0}
    got_bg = {
        (r.w1, r.w2): r.n_occurrences
        for r in bigram_stats(spark, root).collect()
    }
    assert got_bg == {k: float(n) for k, n in bg.items()}


def test_insert_update_delete_maintenance(spark):
    """The maintained tables must track inserts, full-image updates (a
    token leaving a document must emit a negative delta), and deletes
    (NULL-text image = scoped delete), and re-applying an identical
    batch must be a no-op (preimage/postimage deltas cancel)."""
    root = tempfile.mkdtemp(prefix="tokstats_t_")
    corpus = {1: "a b a", 2: "b c", 3: "d d e"}
    apply_doc_updates(spark, root, _docs(spark, list(corpus.items())))
    _assert_matches(spark, root, corpus)

    # update doc 1 (loses b, gains e), insert doc 4
    corpus[1] = "a e"
    corpus[4] = "b b"
    apply_doc_updates(
        spark, root, _docs(spark, [(1, corpus[1]), (4, corpus[4])])
    )
    _assert_matches(spark, root, corpus)

    # delete doc 3 (NULL image tokenizes to zero rows but stays in scope)
    apply_doc_updates(spark, root, _docs(spark, [(3, None)]))
    del corpus[3]
    _assert_matches(spark, root, corpus)

    # idempotence: re-deliver doc 4's unchanged image
    apply_doc_updates(spark, root, _docs(spark, [(4, corpus[4])]))
    _assert_matches(spark, root, corpus)


def test_incremental_equals_batch_on_corpus(spark, sf_correct):
    """Base-then-arrivals ingestion over the real documents table must
    equal the from-scratch aggregate (the registry oracle's claim,
    asserted here against a direct batch computation)."""
    root = tempfile.mkdtemp(prefix="tokstats_c_")
    docs = load_table(spark, sf_correct, "documents")
    init_token_stats(spark, sf_correct, root)
    apply_doc_updates(
        spark, root, docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD == 0)
    )
    batch = {
        (r.token, r.df, r.occ)
        for r in docs.select(
            "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("double").alias("occ"),
        )
        .collect()
    }
    incr = {
        (r.token, r.df, r.occurrences)
        for r in token_stats(spark, sf_correct and root).collect()
    }
    assert incr == batch


def test_adopted_consumers_value_identical(spark, sf_correct):
    """BM25 / TF-IDF / bigram-LM / vocab answers must be identical whether
    the tokmemo tiers come from the corpus scan or from the maintained
    warehouse (VERDICT r8 #2's 'consumers fed from the maintained table'
    condition)."""
    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        search_bm25_topk,
        text_bigram_lm,
        text_tfidf_topterms,
        vocab_topk,
    )

    consumers = {
        "bm25": search_bm25_topk,
        "tfidf": text_tfidf_topterms,
        "bigram_lm": text_bigram_lm,
        "vocab": vocab_topk,
    }
    memo.clear()
    scan = {
        name: {tuple(r) for r in fn(spark, sf_correct).collect()}
        for name, fn in consumers.items()
    }

    root = tempfile.mkdtemp(prefix="tokstats_a_")
    init_token_stats(spark, sf_correct, root)
    apply_doc_updates(
        spark,
        root,
        load_table(spark, sf_correct, "documents").filter(
            F.col("doc_id") % DOC_ARRIVAL_MOD == 0
        ),
    )
    memo.clear()
    adopt_token_stats(spark, sf_correct, root)
    try:
        for name, fn in consumers.items():
            fed = {tuple(r) for r in fn(spark, sf_correct).collect()}
            assert fed == scan[name], f"{name} diverged when fed from tables"
    finally:
        memo.clear()


def test_text_stats_adopt_mode_flag(spark, sf_correct, monkeypatch):
    """Adopt-mode is a first-class config (r9 verdict #4): in ``scan``
    mode the update-only query leaves the tokmemo slots untouched; in
    ``adopt`` mode (the default — env > configs/{env}.json > inline) it
    seeds them, and consumers served from the maintained tables answer
    value-identically."""
    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        search_bm25_topk,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        TEXT_STATS_MODE_ENV,
        incr_token_stats_update_only,
        text_stats_mode,
    )

    monkeypatch.delenv(TEXT_STATS_MODE_ENV, raising=False)
    assert text_stats_mode() == "adopt"

    skey = memo._session_key(spark)
    slot = (skey, ("llm_token_df", sf_correct))

    # scan mode: no adoption side effect
    monkeypatch.setenv(TEXT_STATS_MODE_ENV, "scan")
    memo.clear()
    incr_token_stats_update_only(spark, sf_correct).count()
    assert slot not in memo._MEMO
    scan_rows = {tuple(r) for r in search_bm25_topk(spark, sf_correct).collect()}

    # adopt mode: the update-only query hands consumers to the warehouse
    monkeypatch.setenv(TEXT_STATS_MODE_ENV, "adopt")
    memo.clear()
    incr_token_stats_update_only(spark, sf_correct).count()
    assert slot in memo._MEMO
    try:
        adopted = {
            tuple(r) for r in search_bm25_topk(spark, sf_correct).collect()
        }
        assert adopted == scan_rows
    finally:
        memo.clear()


def test_curation_rollup_maintenance(spark, sf_correct):
    """The maintained curation rollup must track batches incrementally
    (base then arrivals == the registry query's contract, already
    oracle-checked), stay fixed under redelivery of identical images,
    and adjust when a document's image CHANGES (signed preimage/postimage
    deltas through the doc-flags feed)."""
    import tempfile

    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        apply_curation_docs,
        curate_rollup,
    )

    root = tempfile.mkdtemp(prefix="curstats_t_")
    # passes every gopher gate: >=30 mostly-distinct words (dup fraction
    # ~0), two stopword hits, 3-10 mean word length, no symbols
    good = "the and " + " ".join(f"word{i:02d}" for i in range(40)) + " "
    rows = [
        (1, good + "alpha", "en", "web"),
        (2, good + "alpha", "en", "web"),   # exact dup of 1 -> not admitted
        (3, "zz " * 3, "en", "web"),        # fails gopher (too short)
        (4, good + "beta", "en", "books"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    apply_curation_docs(spark, root, docs)
    got = {
        (r.source, r.lang): (r.n_docs, r.n_pass_gopher, r.n_admitted)
        for r in curate_rollup(spark, root).collect()
    }
    assert got == {("web", "en"): (3, 2.0, 1.0), ("books", "en"): (1, 1.0, 1.0)}

    # redelivery of identical images: deltas cancel, rollup unchanged
    apply_curation_docs(spark, root, docs)
    again = {
        (r.source, r.lang): (r.n_docs, r.n_pass_gopher, r.n_admitted)
        for r in curate_rollup(spark, root).collect()
    }
    assert again == got

    # doc 3's image changes to a passing text with NEW content -> admitted
    upd = spark.createDataFrame(
        [(3, good + "gamma", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    apply_curation_docs(spark, root, upd)
    after = {
        (r.source, r.lang): (r.n_docs, r.n_pass_gopher, r.n_admitted)
        for r in curate_rollup(spark, root).collect()
    }
    assert after == {("web", "en"): (3, 3.0, 2.0), ("books", "en"): (1, 1.0, 1.0)}


def test_streaming_token_stats_equals_batch(spark, sf_correct, tmp_path):
    """The streaming front door (file-source micro-batches through the
    same scoped merges + feed folds) drained over a static corpus must
    equal the from-scratch batch aggregate — and the drain must survive
    the corpus arriving as MULTIPLE files (each micro-batch is one
    file)."""
    import os
    import shutil

    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        incremental_token_stats_stream,
        token_stats,
    )
    from databricks_incremental_lakehouse_spark.streaming.tuning import (
        state_sized_shuffle,
    )

    import glob

    docs = load_table(spark, sf_correct, "documents")
    src = tmp_path / "src"
    os.makedirs(src)
    # two arrival files -> two micro-batches (file source wants FLAT
    # parquet files, so the part file is lifted out of the write dir)
    for i, half in enumerate((0, 1)):
        out = tmp_path / f"w{i}"
        docs.filter(F.col("doc_id") % 2 == half).coalesce(1).write.parquet(
            str(out)
        )
        part = glob.glob(str(out / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"b{i}.parquet"))
    root = str(tmp_path / "wh")
    with state_sized_shuffle(spark):
        q = incremental_token_stats_stream(
            spark, str(src), root, str(tmp_path / "ckpt")
        )
        assert q.awaitTermination(300), "stream did not drain"

    batch = {
        (r.token, r.df, r.occ)
        for r in docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("double").alias("occ"),
        )
        .collect()
    }
    got = {
        (r.token, r.df, r.occurrences)
        for r in token_stats(spark, root).collect()
    }
    assert got == batch


def test_restart_does_not_refold(spark):
    """A restarted process (simulated by clearing the in-memory
    watermark cache) must NOT re-fold already-applied feed commits —
    deltas are commutative but not idempotent, so a lost watermark would
    silently double-count. The applied-commit sidecar in the aggregate
    dir carries it across restarts; a corrupted sidecar must raise, not
    guess."""
    import json
    import os

    from databricks_incremental_lakehouse_spark.llmdata import incrstats as I

    root = tempfile.mkdtemp(prefix="tokstats_r_")
    corpus = {1: "a b a", 2: "b c"}
    apply_doc_updates(spark, root, _docs(spark, list(corpus.items())))
    _assert_matches(spark, root, corpus)

    # "restart": wipe the in-memory cache; a no-new-docs batch follows
    I._APPLIED.clear()
    apply_doc_updates(spark, root, _docs(spark, [(3, "d")]))
    corpus[3] = "d"
    _assert_matches(spark, root, corpus)  # would fail doubled without sidecar

    # corrupt sidecar: strict failure, never a guessed re-fold
    side = os.path.join(I._paths(root)["tok_stats"], I._APPLIED_SIDECAR)
    with open(side, "w") as f:
        f.write("{not json")
    I._APPLIED.clear()
    import pytest

    with pytest.raises(RuntimeError, match="corrupt applied-commit"):
        apply_doc_updates(spark, root, _docs(spark, [(4, "e")]))


def test_interrupted_fold_rebuilds_exactly(spark):
    """A fold that died between its intent stamp and its finalize may have
    half-applied its batch; the next fold must detect the pending stamp
    and REBUILD the aggregate from the (immutable) feed — ending exactly
    at the batch totals, never doubled, never half-applied."""
    import json
    import os

    from databricks_incremental_lakehouse_spark.llmdata import incrstats as I

    root = tempfile.mkdtemp(prefix="tokstats_i_")
    corpus = {1: "a b a", 2: "b c"}
    apply_doc_updates(spark, root, _docs(spark, list(corpus.items())))
    _assert_matches(spark, root, corpus)

    # simulate the crash window: an intent stamp that never finalized,
    # over an aggregate corrupted by the interrupted fold (drop the dir —
    # the worst case: nothing of the fold's output survived)
    tok_tgt = I._paths(root)["tok_stats"]
    side = os.path.join(tok_tgt, I._APPLIED_SIDECAR)
    with open(side) as f:
        applied = json.load(f)["applied_commit"]
    import shutil

    shutil.rmtree(tok_tgt)
    os.makedirs(tok_tgt)
    with open(side, "w") as f:
        json.dump({"applied_commit": -1, "pending_commit": applied}, f)
    I._APPLIED.clear()

    corpus[3] = "c d"
    apply_doc_updates(spark, root, _docs(spark, [(3, "c d")]))
    _assert_matches(spark, root, corpus)


def test_drain_entry_point(spark):
    """drain_token_stats recovers a crash between merge and fold: the
    change-feed commits exist but no aggregate saw them. It is also a
    no-op when everything is applied (watermark holds)."""
    from databricks_incremental_lakehouse_spark.llmdata import incrstats as I
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        drain_token_stats,
    )

    root = tempfile.mkdtemp(prefix="tokstats_d_")
    corpus = {1: "a b", 2: "b c b"}
    p = I._paths(root)
    docs = _docs(spark, list(corpus.items()))
    # merge WITHOUT folding — the crash-between-merge-and-fold state
    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        merge_upsert,
    )

    scope = docs.select("doc_id")
    merge_upsert(
        spark, I._doc_tf(docs), p["postings"],
        keys=["doc_id", "token"], bucket_keys=["doc_id"],
        scope=scope, changelog_dir=p["postings_log"],
    )
    merge_upsert(
        spark, I._doc_bigrams(docs), p["bigrams"],
        keys=["doc_id", "w1", "w2"], bucket_keys=["doc_id"],
        scope=scope, changelog_dir=p["bigrams_log"],
    )
    drain_token_stats(spark, root)
    _assert_matches(spark, root, corpus)
    # idempotent: a second drain applies nothing
    drain_token_stats(spark, root)
    _assert_matches(spark, root, corpus)


def test_hll_register_maintenance_idempotent_and_order_free(spark, tmp_path):
    """The maintained HLL registers must (a) equal the from-scratch batch
    sketch whatever the fold order (max is associative/commutative), and
    (b) be IDEMPOTENT — re-applying a batch changes nothing, so
    at-least-once delivery needs no watermark (the designed contrast with
    the signed-sum CDF folds, which carry one)."""
    from databricks_incremental_lakehouse_spark.llmdata.incrsketch import (
        _batch_registers,
        apply_event_batch,
        hll_registers,
    )

    rows = [
        (i, f"2024-01-0{1 + i % 5}", 100 + i % 37, ["click", "view"][i % 2], 1.0)
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, d string, user_id long, event_type string, value double"
    ).select("event_id", F.col("d").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value")

    def regs_of(root):
        return {
            (r.event_type, r.idx): r.m_j
            for r in hll_registers(spark, str(root)).collect()
        }

    want = {
        (r.event_type, r.idx): r.m_j for r in _batch_registers(ev).collect()
    }

    # fold in two different orders over two warehouses
    a, b = tmp_path / "a", tmp_path / "b"
    first, second = ev.filter("event_id < 120"), ev.filter("event_id >= 120")
    apply_event_batch(spark, str(a), first)
    apply_event_batch(spark, str(a), second)
    apply_event_batch(spark, str(b), second)
    apply_event_batch(spark, str(b), first)
    assert regs_of(a) == want
    assert regs_of(b) == want

    # idempotence: re-deliver both batches, registers unchanged
    apply_event_batch(spark, str(a), first)
    apply_event_batch(spark, str(a), second)
    assert regs_of(a) == want


def test_streaming_hll_equals_batch(spark, sf_correct, tmp_path):
    """The HLL streaming front door drained over a static events corpus
    (arriving as multiple files -> multiple micro-batches) must produce
    registers identical to the from-scratch batch sketch."""
    import glob
    import os
    import shutil

    from databricks_incremental_lakehouse_spark.llmdata.incrsketch import (
        _batch_registers,
        hll_registers,
        incremental_hll_stream,
    )
    from databricks_incremental_lakehouse_spark.streaming.tuning import (
        state_sized_shuffle,
    )

    events = load_table(spark, sf_correct, "events")
    src = tmp_path / "src"
    os.makedirs(src)
    for i, half in enumerate((0, 1)):
        out = tmp_path / f"w{i}"
        events.filter(F.col("event_id") % 2 == half).coalesce(1).write.parquet(
            str(out)
        )
        part = glob.glob(str(out / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"b{i}.parquet"))
    root = str(tmp_path / "wh")
    with state_sized_shuffle(spark):
        q = incremental_hll_stream(spark, str(src), root, str(tmp_path / "ck"))
        assert q.awaitTermination(300), "stream did not drain"

    want = {
        (r.event_type, r.idx): r.m_j for r in _batch_registers(events).collect()
    }
    got = {
        (r.event_type, r.idx): r.m_j
        for r in hll_registers(spark, root).collect()
    }
    assert got == want


def test_cms_counters_track_live_corpus_under_updates(spark, tmp_path):
    """The maintained CMS counters must equal the from-scratch sketch of
    the FINAL corpus after document updates and deletes — vanished
    tokens' cells decrement via the signed feed (the property a
    streamed-increment-only CMS lacks)."""
    from databricks_incremental_lakehouse_spark.llmdata.incrsketch import (
        _cms_cells,
        fold_cms_counters,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        apply_doc_updates,
    )
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        CMS_D,
        _cms_bucket,
    )
    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        read_merge_target,
    )

    root = str(tmp_path / "wh")
    apply_doc_updates(
        spark,
        root,
        _docs(spark, [(1, "alpha beta beta"), (2, "gamma alpha"), (3, "delta")]),
    )
    fold_cms_counters(spark, root)
    # update doc 1 (beta vanishes, epsilon appears), delete doc 3 wholesale
    apply_doc_updates(spark, root, _docs(spark, [(1, "alpha epsilon")]))
    from pyspark.sql import functions as F2
    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        merge_upsert,
    )
    import os as _os

    # scoped delete: complete new image of doc 3 is "no rows"
    merge_upsert(
        spark,
        _docs(spark, []).selectExpr(
            "CAST(NULL AS LONG) doc_id", "CAST(NULL AS STRING) token",
            "CAST(NULL AS LONG) tf"
        ).limit(0),
        _os.path.join(root, "postings"),
        keys=["doc_id", "token"],
        bucket_keys=["doc_id"],
        scope=spark.createDataFrame([(3,)], "doc_id long"),
        changelog_dir=_os.path.join(root, "postings_log"),
    )
    fold_cms_counters(spark, root)

    final = {1: "alpha epsilon", 2: "gamma alpha"}
    toks = [t for text in final.values() for t in text.split()]
    exp_df = (
        spark.createDataFrame([(t,) for t in toks], "token string")
        .select("token", F2.explode(F2.array(*[F2.lit(s) for s in range(CMS_D)])).alias("seed"))
        .select("seed", _cms_bucket(F2.col("token"), F2.col("seed")))
        .groupBy("seed", "bucket")
        .count()
    )
    want = {(r.seed, r.bucket): r["count"] for r in exp_df.collect()}
    got = {
        (r.seed, r.bucket): int(r.sum_tf)
        for r in read_merge_target(
            spark, _os.path.join(root, "cms_counters")
        ).filter(F2.col("n_rows") > 0).collect()
    }
    assert got == want


def test_concurrent_fold_wave_with_cms_extra(spark, tmp_path):
    """VERDICT r11 #4 — the fold wave: tok_stats, doc_stats and the CMS
    counter fold now run CONCURRENTLY after the postings merge (plus the
    bigram chain alongside). Disjoint targets mean disjoint two-phase
    watermark sidecars; this drives several batches through the fused
    path and asserts every aggregate equals the from-scratch recompute
    of the final corpus and every sidecar is FINALIZED (no pending
    stamp left by a racing fold)."""
    import os

    from pyspark.sql import functions as F2

    from databricks_incremental_lakehouse_spark.llmdata.incrsketch import (
        fold_cms_counters,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        _read_sidecar,
        apply_doc_updates,
        bigram_stats,
        doc_stats,
        token_stats,
    )
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        CMS_D,
        _cms_bucket,
    )
    from databricks_incremental_lakehouse_spark.streaming.incremental import (
        read_merge_target,
    )

    root = str(tmp_path / "wh")
    extra = (lambda: fold_cms_counters(spark, root),)
    batches = [
        [(1, "alpha beta beta gamma"), (2, "gamma alpha")],
        [(3, "delta epsilon alpha"), (4, "beta beta")],
        [(1, "alpha epsilon"), (5, "zeta gamma gamma")],  # update doc 1
    ]
    for b in batches:
        apply_doc_updates(spark, root, _docs(spark, b), extra_postings_folds=extra)

    final = {1: "alpha epsilon", 2: "gamma alpha", 3: "delta epsilon alpha",
             4: "beta beta", 5: "zeta gamma gamma"}

    toks = [(d, t) for d, text in final.items() for t in text.split()]
    tf = {}
    for d, t in toks:
        tf[(d, t)] = tf.get((d, t), 0) + 1
    want_tok = {}
    for (d, t), n in tf.items():
        df_, occ = want_tok.get(t, (0, 0))
        want_tok[t] = (df_ + 1, occ + n)
    got_tok = {
        r.token: (int(r.df), int(r.occurrences))
        for r in token_stats(spark, root).collect()
    }
    assert got_tok == want_tok

    want_doc = {}
    for (d, t), n in tf.items():
        u, dl = want_doc.get(d, (0, 0))
        want_doc[d] = (u + 1, dl + n)
    got_doc = {
        r.doc_id: (int(r.n_unique_tokens), int(r.dl))
        for r in doc_stats(spark, root).collect()
    }
    assert got_doc == want_doc

    want_bg = {}
    for d, text in final.items():
        ws = text.split()
        for a, b2 in zip(ws, ws[1:]):
            want_bg[(a, b2)] = want_bg.get((a, b2), 0) + 1
    got_bg = {
        (r.w1, r.w2): int(r.n_occurrences)
        for r in bigram_stats(spark, root).collect()
    }
    assert got_bg == want_bg

    exp_df = (
        spark.createDataFrame(
            [(t,) for _d, t in toks], "token string"
        )
        .select(
            "token",
            F2.explode(
                F2.array(*[F2.lit(s) for s in range(CMS_D)])
            ).alias("seed"),
        )
        .select("seed", _cms_bucket(F2.col("token"), F2.col("seed")))
        .groupBy("seed", "bucket")
        .count()
    )
    want_cms = {(r.seed, r.bucket): r["count"] for r in exp_df.collect()}
    got_cms = {
        (r.seed, r.bucket): int(r.sum_tf)
        for r in read_merge_target(spark, os.path.join(root, "cms_counters"))
        .filter(F2.col("n_rows") > 0)
        .collect()
    }
    assert got_cms == want_cms

    for target in ("tok_stats", "doc_stats", "bigram_stats", "cms_counters"):
        state = _read_sidecar(os.path.join(root, target))
        assert state is not None and state["pending_commit"] is None, target


def test_adopted_frames_survive_later_merges(spark, sf_correct):
    """VERDICT r12 #1: the (token-stats -> CMS cycle -> tokmemo consumer)
    sequence crashed with FILE_NOT_EXIST because the CMS cycle's
    apply_doc_updates rewrote the adopted postings buckets without
    re-seeding the tokmemo slots. Invalidation is now the CALLEE's job:
    after any merge into an adopted root, every adopted slot must be a
    FRESH frame that reads without error and value-matches the warehouse."""
    from databricks_incremental_lakehouse_spark.llmdata.incrsketch import (
        incr_cms_heavy_hitters_update_only,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        incr_token_stats_update_only,
    )
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        sketch_cms_heavy_hitters,
    )

    memo.clear()
    try:
        # step 1: the token-stats query adopts (default adopt-mode)
        incr_token_stats_update_only(spark, sf_correct).count()
        skey = memo._session_key(spark)
        slot_keys = [
            ("llm_tok_tf", sf_correct),
            ("llm_token_df", sf_correct),
            ("llm_doc_len", sf_correct),
            ("llm_tokens", sf_correct),
            ("llm_bigrams", sf_correct),
        ]
        before = {}
        for k in slot_keys:
            assert (skey, k) in memo._MEMO, f"slot {k[0]} not adopted"
            before[k] = memo._MEMO[(skey, k)]
        checks = {k: before[k].count() for k in slot_keys}

        # step 2: the CMS cycle re-merges the same arrival batch into the
        # SAME warehouse root (idempotent images -> values unchanged), but
        # the merge swaps bucket files — pre-fix, the adopted frames now
        # dangle over unlinked parquet parts
        incr_cms_heavy_hitters_update_only(spark, sf_correct).count()

        # step 3: every adopted slot was re-seeded by the callee (fresh
        # object) and reads cleanly with unchanged totals
        for k in slot_keys:
            frame = memo._MEMO.get((skey, k))
            assert frame is not None, f"slot {k[0]} dropped, not re-seeded"
            assert frame is not before[k], (
                f"slot {k[0]} still holds the pre-merge frame"
            )
            assert frame.count() == checks[k], f"slot {k[0]} totals changed"

        # step 4: the original crash site — the batch CMS sketch reads
        # doc_token_tf through the adopted tok_tf slot
        assert sketch_cms_heavy_hitters(spark, sf_correct).count() > 0
    finally:
        memo.clear()


def test_doc_batch_bucket_set_covers_updates_and_scope(spark, monkeypatch):
    """apply_doc_updates collects a batch's doc_id bucket set once and
    hands it to both doc-keyed merges. On every update the supplied set
    must equal the set recomputed from the merge's own updates and scope
    under the target's stored bucket count: inserts, edits and NULL-text
    images (scoped deletes, whose docs have no update rows)."""
    import json
    import os

    from databricks_incremental_lakehouse_spark.llmdata import incrstats as I

    real = I.merge_upsert
    supplied = []

    def checked(spark_, updates, target_path, *args, touched_buckets=None, **kw):
        if touched_buckets is not None:
            with open(os.path.join(target_path, "_merge_meta.json")) as f:
                nb = json.load(f)["num_buckets"]
            keys = kw["bucket_keys"]
            src = updates.select(*keys).unionByName(kw["scope"].select(*keys))
            want = {
                r[0]
                for r in src.select(
                    F.pmod(F.xxhash64(*keys), F.lit(nb)).cast("int")
                )
                .distinct()
                .collect()
            }
            assert set(touched_buckets) == want, (target_path, touched_buckets)
        supplied.append((os.path.basename(target_path), touched_buckets))
        return real(
            spark_, updates, target_path, *args,
            touched_buckets=touched_buckets, **kw,
        )

    monkeypatch.setattr(I, "merge_upsert", checked)
    root = tempfile.mkdtemp(prefix="tokstats_b_")
    corpus = {d: f"w{d} x{d % 3} w{d}" for d in range(1, 30)}
    apply_doc_updates(spark, root, _docs(spark, list(corpus.items())))
    # the initial load has no stored layout to bucket by
    assert {t for t, b in supplied} == {"postings", "bigrams"}
    assert all(b is None for _t, b in supplied)

    edits = {31: "new doc here", 32: "z", 2: "w2 rewritten", 5: "x2"}
    for batch in (
        {31: edits[31], 32: edits[32]},  # inserts
        {2: edits[2], 5: edits[5]},  # edits
        {7: None, 8: None, 31: None},  # NULL text: scoped deletes
    ):
        supplied.clear()
        apply_doc_updates(spark, root, _docs(spark, list(batch.items())))
        assert sorted(t for t, _b in supplied) == ["bigrams", "postings"]
        assert all(b for _t, b in supplied), supplied
        for d, text in batch.items():
            if text is None:
                corpus.pop(d, None)
            else:
                corpus[d] = text
        _assert_matches(spark, root, corpus)


def test_doc_lineages_require_a_source():
    """_doc_tf/_doc_bigrams need the documents or their token frame."""
    import pytest

    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        _doc_bigrams,
        _doc_tf,
    )

    for fn in (_doc_tf, _doc_bigrams):
        with pytest.raises(ValueError, match="docs"):
            fn()
