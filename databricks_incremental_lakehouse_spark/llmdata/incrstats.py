"""Incrementally-maintained token statistics (VERDICT r8 #2).

:mod:`.tokmemo`'s tiers (per-doc term frequencies, document lengths,
token document-frequencies, bigrams) are session-scoped recompute: every
new session pays one full corpus scan before the first text statistic
answers. At 100 TB that scan IS the pipeline — the lakehouse answer is
to MAINTAIN the statistics as tables and let document changes update
them in O(changes), never rescanning the corpus.

This module builds exactly that on the existing merge machinery
(:mod:`..streaming.incremental`):

- ``postings``  — the (doc_id, token, tf) merge table, bucketed by
  ``doc_id`` with a change data feed. A document update is a SCOPED
  replace (the caller supplies the complete new image of each changed
  doc), so vanished tokens emit ``delete`` change rows and new ones
  ``insert`` — the Delta MERGE contract.
- ``bigrams``   — the (doc_id, w1, w2, n) merge table, same contract.
- ``tok_stats``    — (token, df, occurrences): the CDF aggregate of the
  postings feed grouped by token (``n_rows`` of (doc,token) rows IS the
  document frequency; ``sum(tf)`` the occurrence count).
- ``doc_stats``    — (doc_id, n_unique_tokens, dl): the same feed
  grouped by doc_id (``sum(tf)`` is the BM25 length normalizer).
- ``bigram_stats`` — ((w1, w2), count): the bigrams feed aggregated.

Every delta is a signed commutative sum (``apply_cdf_delta``), so the
maintained tables equal the from-scratch batch aggregates after ANY
interleaving of commits — which is precisely what the registry oracle
asserts: ``incr_token_stats_update_only`` initializes from the 90%
base corpus, ingests the late-arriving 10% through the merge + feed,
and must hash-equal DuckDB's full-corpus GROUP BY.

:func:`adopt_token_stats` seeds :mod:`..memo`'s shared-frame slots with
reads of the maintained tables, so the tf/df/length/bigram consumers
(BM25, TF-IDF, the bigram LM, vocab_topk) answer from the maintained
warehouse instead of re-deriving the corpus scan — value-identity is
asserted in tests/test_incrstats.py.

Reference: the maintained-statistics twin of the reference's refined
tables (src/refined/refined_customer_orders.py keeps query-ready
aggregates current); the reference has no text surface — this is part
of the LLM-training-data extension brief.
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..pinning import pin

from ..streaming.incremental import (
    _committed_dirs,
    _key_bucket,
    _read_meta,
    apply_cdf_delta,
    merge_upsert,
    read_cdf_totals,
    read_merge_target,
)
from ..tables import load_table
from .texthash import TOKENIZE_SQL, tokenize

# late-arrival split: doc_id % ARRIVAL_MOD == 0 lands AFTER the initial
# stats build (the sim_ivf_append_search convention)
DOC_ARRIVAL_MOD = 10

# --- adopt-mode (VERDICT r9 #4) ---------------------------------------------
# The maintained warehouse beats the scan path where both exist
# (ext.search_bm25_from_maintained 0.52s vs 0.61s at sf0.1), so adoption
# is the DEFAULT: whenever a warehouse becomes corpus-complete for its
# sf_dir (the update-only queries apply the arrival batch, after which
# the tables equal the full-corpus aggregates — the oracle-checked
# contract), its reads are seeded into the tokmemo slots and every text
# consumer answers from the maintained tables. Resolution order mirrors
# the pipeline config semantics (env override, then configs/{env}.json,
# then the inline default — reference _context.py:24-42):
#   1. SPARK_GRAFT_TEXT_STATS = "adopt" | "scan"   (session override)
#   2. configs/{SPARK_GRAFT_ENV or dev}.json  "text_stats_mode"
#   3. "adopt"
TEXT_STATS_MODE_ENV = "SPARK_GRAFT_TEXT_STATS"


def text_stats_mode() -> str:
    """Effective text-statistics serving mode: ``adopt`` (maintained
    tables serve text consumers once corpus-complete) or ``scan``
    (tokmemo always derives from the corpus — the pre-r9 behavior)."""
    env = os.environ.get(TEXT_STATS_MODE_ENV)
    if env in ("adopt", "scan"):
        return env
    import json

    cfg_env = os.environ.get("SPARK_GRAFT_ENV", "dev")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "configs",
        f"{cfg_env}.json",
    )
    try:
        with open(path) as fh:
            mode = json.load(fh).get("text_stats_mode")
        if mode in ("adopt", "scan"):
            return mode
    except OSError:
        pass
    return "adopt"


def _adopt_if_enabled(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Seed the tokmemo slots from ``root`` when adopt-mode is on — called
    at the moments a warehouse is known corpus-complete for ``sf_dir``."""
    if text_stats_mode() == "adopt":
        adopt_token_stats(spark, sf_dir, root)


# --- adopted-root invalidation (VERDICT r12 #1) ------------------------------
# Once a warehouse root has been adopted, the tokmemo slots hold LAZY
# parquet frames over its bucket files. Any later merge into that root
# swaps those files out from under the frames (merge_upsert rewrites
# touched buckets and unlinks the old parts), so a subsequent tokmemo
# consumer would die with FAILED_READ_FILE.FILE_NOT_EXIST. Invalidation
# is therefore the CALLEE's job: apply_doc_updates re-seeds the slots for
# any root it rewrites that this session previously adopted — no call
# site can forget. Keyed by (session, root); memo.clear() wipes it via
# the aux-clearer hook so tests that reset the memo reset this too.
_ADOPTED: dict[tuple, str] = {}  # (session_key, root) -> sf_dir
_ADOPTED_LOCK = threading.Lock()


def _clear_adopted() -> None:
    with _ADOPTED_LOCK:
        _ADOPTED.clear()


def _record_adoption(spark: SparkSession, root: str, sf_dir: str) -> None:
    from .. import memo

    memo.register_aux_clear(_clear_adopted)
    with _ADOPTED_LOCK:
        _ADOPTED[(memo._session_key(spark), root)] = sf_dir


def _reseed_if_adopted(spark: SparkSession, root: str) -> None:
    """Re-seed the tokmemo slots if ``root`` was adopted by this session —
    called by every merge path that rewrites the root's files."""
    from .. import memo

    with _ADOPTED_LOCK:
        sf_dir = _ADOPTED.get((memo._session_key(spark), root))
    if sf_dir is not None:
        adopt_token_stats(spark, sf_dir, root)


def _doc_toks(docs: DataFrame | None) -> DataFrame:
    """(doc_id, toks) — ONE tokenize pass over a document frame, shared
    by the tf and bigram lineages (r14, guide §2.4: the two merge chains
    each re-tokenized the same batch)."""
    if docs is None:
        raise ValueError("pass a document frame (docs) or its tokens (toks)")
    return docs.select("doc_id", tokenize(F.col("text")).alias("toks"))


def _doc_tf(
    docs: DataFrame | None = None, toks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, token, tf) — the tokmemo ``doc_token_tf`` lineage over an
    arbitrary document frame (NULL text contributes zero rows). ``toks``
    optionally supplies a precomputed/pinned :func:`_doc_toks` frame."""
    if toks is None:
        toks = _doc_toks(docs)
    return (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _doc_bigrams(
    docs: DataFrame | None = None, toks: DataFrame | None = None
) -> DataFrame:
    """(doc_id, w1, w2, n) — adjacent-pair counts per document, formed
    shuffle-free from the token array (the tokmemo ``doc_bigrams``
    lineage, pre-aggregated to the keyed grain the merge table needs).
    Source selection as in :func:`_doc_tf`."""
    if toks is None:
        toks = _doc_toks(docs)
    return (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("s"),
        )
        .groupBy("doc_id", "s.w1", "s.w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _touched_doc_buckets(
    toks: DataFrame, targets: list[str]
) -> list[set[int] | None]:
    """The doc_id bucket set of a batch under each doc-keyed target's
    stored bucket count (None for a target without a stored layout: its
    merge is an initial load, or collects the set itself). ``toks`` has
    one row per document of the batch, so its doc_ids are both the
    merges' scope and every doc_id their updates can hold. One collect
    serves every target."""
    metas = [_read_meta(t, strict=True) for t in targets]
    counts = [int(m["num_buckets"]) if m else None for m in metas]
    nbs = sorted({nb for nb in counts if nb is not None})
    if not nbs:
        return counts
    cols = [_key_bucket(["doc_id"], nb) for nb in nbs]
    rows = toks.select(*cols).distinct().collect()
    by_nb = {nb: {r[i] for r in rows} for i, nb in enumerate(nbs)}
    return [by_nb.get(nb) for nb in counts]


def _paths(root: str) -> dict[str, str]:
    return {
        "postings": os.path.join(root, "postings"),
        "postings_log": os.path.join(root, "postings_log"),
        "bigrams": os.path.join(root, "bigrams"),
        "bigrams_log": os.path.join(root, "bigrams_log"),
        "tok_stats": os.path.join(root, "tok_stats"),
        "doc_stats": os.path.join(root, "doc_stats"),
        "bigram_stats": os.path.join(root, "bigram_stats"),
        "registry": os.path.join(root, "registry"),
        "doc_flags": os.path.join(root, "doc_flags"),
        "doc_flags_log": os.path.join(root, "doc_flags_log"),
        "curate_rollup": os.path.join(root, "curate_rollup"),
    }


# per-target applied-commit watermark: commits AT OR BELOW it are already
# folded into the aggregate. Cached in memory AND persisted as a sidecar
# in the aggregate's directory — without the sidecar, a process restart
# against a persistent warehouse root would re-fold every commit and
# silently DOUBLE-COUNT the aggregates (deltas are commutative, not
# idempotent). The fold is TWO-PHASE: before applying, the sidecar is
# stamped with ``pending_commit`` (intent); after the fold's last bucket
# swap it is finalized to ``applied_commit`` alone. A crash anywhere
# between intent and finalize leaves the pending stamp behind, and the
# next fold REBUILDS the aggregate deterministically from the full feed
# (commit dirs are immutable, the aggregate is derived state) instead of
# guessing whether the interrupted batch half-applied — exactly-once
# semantics from at-least-once machinery, bought with an O(history)
# rebuild only on the crash path. Each sidecar write is atomic
# (temp + rename, the merge-meta discipline).
_APPLIED: dict[tuple[str, str], int] = {}
_LOCK = threading.Lock()

_APPLIED_SIDECAR = "_applied_commit.json"


def _read_applied(root: str, target: str) -> int:
    with _LOCK:
        got = _APPLIED.get((root, target))
    if got is not None:
        return got
    state = _read_sidecar(target)
    applied = state["applied_commit"] if state is not None else -1
    if state is not None and state.get("pending_commit") is not None:
        # an intent stamp with no finalize: the fold it announced may have
        # half-applied — signal the caller to rebuild (never cache this)
        return _PENDING
    with _LOCK:
        _APPLIED[(root, target)] = applied
    return applied


# sentinel: the sidecar carries an unfinalized intent stamp — the target
# must be rebuilt from the feed before any watermark can be trusted
_PENDING = object()


def _read_sidecar(target: str) -> dict | None:
    path = os.path.join(target, _APPLIED_SIDECAR)
    if not os.path.isfile(path):
        return None
    import json

    try:
        with open(path) as f:
            state = json.load(f)
        return {
            "applied_commit": int(state["applied_commit"]),
            "pending_commit": (
                int(state["pending_commit"])
                if state.get("pending_commit") is not None
                else None
            ),
        }
    except (ValueError, KeyError, OSError):
        # torn sidecar: refuse to guess — re-folding would double-count
        raise RuntimeError(
            f"corrupt applied-commit sidecar at {path!r}; "
            "rebuild the aggregate from the feed (empty target + "
            "re-drain) rather than risking a double-fold"
        )


def _write_sidecar(target: str, payload: dict) -> None:
    import json

    os.makedirs(target, exist_ok=True)
    path = os.path.join(target, _APPLIED_SIDECAR)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _write_intent(root: str, target: str, applied: int, top: int) -> None:
    """Phase 1: announce the fold about to run. The in-memory watermark is
    dropped so that if this process dies (or throws) before finalizing,
    every later reader goes back to disk and sees the pending stamp."""
    with _LOCK:
        _APPLIED.pop((root, target), None)
    _write_sidecar(
        target, {"applied_commit": int(applied), "pending_commit": int(top)}
    )


def _write_applied(root: str, target: str, top: int) -> None:
    """Phase 2: finalize — the fold's last bucket swap is on disk."""
    _write_sidecar(target, {"applied_commit": int(top)})
    with _LOCK:
        _APPLIED[(root, target)] = int(top)


def _fold_new_commits(
    spark: SparkSession,
    root: str,
    log_dir: str,
    target: str,
    group_cols: list[str],
    sum_cols: list[str],
    transform=None,
) -> None:
    """Fold the UNAPPLIED feed commits into one aggregate table — the
    commit dirs above the applied watermark are read directly (the
    changelog grows forever; re-listing every commit per drain would make
    drain cost O(history) instead of O(new changes)), and their signed
    deltas apply as one batch (deltas commute). The fold is two-phase
    (intent stamp -> apply -> finalize, see ``_APPLIED``): a fold
    interrupted between the stamps is detected here and the aggregate is
    rebuilt from the full feed — derived state, immutable inputs, so the
    rebuild is deterministic and exact."""
    import shutil

    applied = _read_applied(root, target)
    if applied is _PENDING:
        # interrupted fold: the target may hold a partial application —
        # discard it and re-fold every commit from scratch (a crash during
        # THIS rebuild leaves the pending stamp behind and re-enters here)
        shutil.rmtree(target, ignore_errors=True)
        with _LOCK:
            _APPLIED.pop((root, target), None)
        applied = -1
    dirs = [
        d
        for d in _committed_dirs(log_dir)
        if int(os.path.basename(d).split("=", 1)[1]) > applied
    ]
    if not dirs:
        return
    top = max(int(os.path.basename(d).split("=", 1)[1]) for d in dirs)
    _write_intent(root, target, applied, top)
    changes = (
        spark.read.option("basePath", log_dir)
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )
    changes = changes.drop("commit")
    if transform is not None:
        # per-consumer change-row reshape (e.g. the CMS fold explodes each
        # (token, tf) change into its d seeded counter cells) — the feed
        # stays one shared log, each consumer derives its own grain. Must
        # preserve the `_op` column and be a row-local map (no aggregation:
        # signs are applied downstream).
        changes = transform(changes)
    apply_cdf_delta(changes, target, group_cols, sum_cols)
    _write_applied(root, target, top)


def drain_token_stats(spark: SparkSession, root: str) -> None:
    """Fold every unapplied feed commit into the aggregate tables — the
    standalone recovery/refresh entry point: a process that crashed after
    a postings/bigrams merge but before its fold resumes here (the merge
    committed its change-feed dirs; this folds whatever is unapplied),
    and an interrupted fold (pending intent stamp) is rebuilt. No-op when
    everything is applied. :func:`apply_doc_updates` calls the same folds
    inline, so routine ingest never needs this."""
    p = _paths(root)
    for log_dir, target, group_cols, sum_cols in [
        (p["postings_log"], p["tok_stats"], ["token"], ["tf"]),
        (p["postings_log"], p["doc_stats"], ["doc_id"], ["tf"]),
        (p["bigrams_log"], p["bigram_stats"], ["w1", "w2"], ["n"]),
    ]:
        _fold_new_commits(spark, root, log_dir, target, group_cols, sum_cols)
    _reseed_if_adopted(spark, root)


def init_token_stats(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Initial load: merge the base corpus' postings/bigrams (opening the
    change feeds) and fold the feed into the aggregates."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % DOC_ARRIVAL_MOD != 0
    )
    apply_doc_updates(spark, root, docs)


def apply_doc_updates(
    spark: SparkSession,
    root: str,
    docs: DataFrame,
    extra_postings_folds: tuple = (),
) -> None:
    """Ingest a batch of new/changed documents (complete images): scoped
    merge into the postings/bigrams tables (updates replace a doc's rows
    wholesale — vanished tokens become ``delete`` change rows), then fold
    the resulting feed commits into the statistics tables. Cost is
    O(changed docs' tokens): the corpus is never rescanned.

    Concurrency shape (VERDICT r11 #4 — the per-batch floor was ~15
    sequential small jobs): the two (merge -> folds) chains touch
    disjoint targets and run concurrently, and WITHIN the postings chain
    every consumer fold of the just-committed feed (tok_stats, doc_stats,
    plus any ``extra_postings_folds`` thunk, e.g. the CMS counter fold)
    also runs concurrently — each fold owns a distinct target, so the
    two-phase watermark sidecars never collide, and the shared
    ``_APPLIED`` dict is lock-guarded. The critical path drops from
    merge + k folds to merge + max(fold)."""
    from concurrent.futures import ThreadPoolExecutor

    p = _paths(root)
    scope = docs.select("doc_id")

    # ONE tokenize pass for both chains (r14): the postings and bigrams
    # lineages share the pinned (doc_id, toks) frame instead of each
    # re-tokenizing ``docs``. The per-chain tf/bigram frames stay unpinned:
    # given the bucket set, an update merge executes its updates once,
    # inside its pinned full-outer join.
    toks = pin(_doc_toks(docs))
    # postings and bigrams both bucket on doc_id: one bucket collect over
    # the pinned token frame serves both merges
    postings_buckets, bigrams_buckets = _touched_doc_buckets(
        toks, [p["postings"], p["bigrams"]]
    )

    def _postings_chain() -> None:
        merge_upsert(
            spark,
            _doc_tf(toks=toks),
            p["postings"],
            keys=["doc_id", "token"],
            bucket_keys=["doc_id"],
            scope=scope,
            changelog_dir=p["postings_log"],
            touched_buckets=postings_buckets,
        )
        # fold wave: every consumer of the postings feed at once (its own
        # inner pool — submitting back into the outer pool could exhaust
        # it and deadlock the waiting chain)
        folds = [
            lambda: _fold_new_commits(
                spark, root, p["postings_log"], p["tok_stats"], ["token"], ["tf"]
            ),
            lambda: _fold_new_commits(
                spark, root, p["postings_log"], p["doc_stats"], ["doc_id"], ["tf"]
            ),
            *extra_postings_folds,
        ]
        with ThreadPoolExecutor(len(folds)) as ex2:
            for f in [ex2.submit(fn) for fn in folds]:
                f.result()

    def _bigrams_chain() -> None:
        merge_upsert(
            spark,
            _doc_bigrams(toks=toks),
            p["bigrams"],
            keys=["doc_id", "w1", "w2"],
            bucket_keys=["doc_id"],
            scope=scope,
            changelog_dir=p["bigrams_log"],
            touched_buckets=bigrams_buckets,
        )
        _fold_new_commits(
            spark, root, p["bigrams_log"], p["bigram_stats"], ["w1", "w2"], ["n"]
        )

    with ThreadPoolExecutor(2) as ex:
        futs = [ex.submit(_postings_chain), ex.submit(_bigrams_chain)]
        for f in futs:
            f.result()
    # the merges above swapped bucket files out from under any tokmemo
    # frames this session adopted over this root — re-seed them here, in
    # the callee, so no caller can leave stale frames behind (r12 #1)
    _reseed_if_adopted(spark, root)


def token_stats(spark: SparkSession, root: str) -> DataFrame:
    """(token, df, occurrences) — live rows of the maintained per-token
    statistics (zero-count tombstones excluded)."""
    return read_cdf_totals(spark, _paths(root)["tok_stats"]).select(
        "token",
        F.col("n_rows").alias("df"),
        F.col("sum_tf").alias("occurrences"),
    )


def doc_stats(spark: SparkSession, root: str) -> DataFrame:
    """(doc_id, n_unique_tokens, dl) — live per-document statistics."""
    return read_cdf_totals(spark, _paths(root)["doc_stats"]).select(
        "doc_id",
        F.col("n_rows").alias("n_unique_tokens"),
        F.col("sum_tf").alias("dl"),
    )


def bigram_stats(spark: SparkSession, root: str) -> DataFrame:
    """(w1, w2, n_occurrences) — live maintained bigram counts."""
    return read_cdf_totals(spark, _paths(root)["bigram_stats"]).select(
        "w1", "w2", F.col("sum_n").alias("n_occurrences")
    )


def adopt_token_stats(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Seed the tokmemo shared-frame slots from the maintained tables, so
    the session's text consumers (BM25, TF-IDF, bigram LM, vocab_topk)
    answer from the warehouse instead of re-scanning the corpus. Frames
    are rebuilt at the exact schemas/grains the tiers promise; the
    integer-valued double sums cast back to their exact longs (sums of
    longs below 2^53 are exact in IEEE doubles). Token-ORDER tiers
    (``doc_tok_arrays``) are not derivable from postings and stay on the
    scan path.

    Adoption is RECORDED per (session, root): any later merge into the
    root (``apply_doc_updates``, including the CMS cycle's counter-fold
    variant) re-seeds these slots itself, so the frames never dangle over
    unlinked bucket files (VERDICT r12 #1)."""
    from .. import memo

    _record_adoption(spark, root, sf_dir)
    p = _paths(root)
    postings = read_merge_target(spark, p["postings"]).select(
        "doc_id", "token", "tf"
    )
    memo.seed(spark, ("llm_tok_tf", sf_dir), postings)
    memo.seed(
        spark,
        ("llm_token_df", sf_dir),
        token_stats(spark, root).select("token", F.col("df").cast("long")),
    )
    memo.seed(
        spark,
        ("llm_doc_len", sf_dir),
        doc_stats(spark, root).select("doc_id", F.col("dl").cast("long").alias("dl")),
    )
    memo.seed(
        spark,
        ("llm_tokens", sf_dir),
        postings.select(
            "doc_id", F.explode(F.expr("array_repeat(token, CAST(tf AS INT))")).alias("token")
        ),
    )
    memo.seed(
        spark,
        ("llm_bigrams", sf_dir),
        read_merge_target(spark, p["bigrams"]).select(
            "doc_id",
            F.explode(F.expr("sequence(1, CAST(n AS INT))")).alias("_i"),
            "w1",
            "w2",
        ).select("doc_id", "w1", "w2"),
    )


# --- registry surface -------------------------------------------------------

# one maintained warehouse per (session, sf_dir, kind)
_WAREHOUSES: dict[tuple, str] = {}
_WH_LOCK = threading.Lock()


def _warehouse_for(spark: SparkSession, sf_dir: str, kind: str = "token") -> str:
    from ..memo import _session_key

    key = (_session_key(spark), sf_dir, kind)
    with _WH_LOCK:
        root = _WAREHOUSES.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix=f"{kind}stats_wh_")
        base = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % DOC_ARRIVAL_MOD != 0
        )
        if kind == "token":
            apply_doc_updates(spark, root, base)
        else:
            apply_curation_docs(spark, root, base)
        with _WH_LOCK:
            _WAREHOUSES[key] = root
    return root


def incr_token_stats_update_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: maintained per-token statistics after ingesting
    the late-arriving 10% of documents through the merge + change feed.
    Re-runs re-merge the same batch — identical images produce
    preimage/postimage pairs whose signed deltas cancel, so the steady
    state is idempotent and each call times exactly the O(changes)
    update path. The oracle is the from-scratch full-corpus aggregate:
    incremental maintenance must be indistinguishable from rebuild."""
    root = _warehouse_for(spark, sf_dir)
    arrivals = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % DOC_ARRIVAL_MOD == 0
    )
    apply_doc_updates(spark, root, arrivals)
    # the warehouse now covers the full corpus: adopt-mode (default) hands
    # the session's text consumers over to the maintained tables
    _adopt_if_enabled(spark, sf_dir, root)
    return token_stats(spark, root)


INCR_TOKEN_STATS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKENIZE_SQL.format(c="text")}) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
)
SELECT token,
    CAST(COUNT(*) AS BIGINT) AS df,
    CAST(SUM(tf) AS DOUBLE) AS occurrences
FROM tf GROUP BY token"""


def incr_bigram_stats_update_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: maintained bigram counts after the same arrival
    batch (shares the warehouse + merge with the token query; both feeds
    drain in one pass)."""
    root = _warehouse_for(spark, sf_dir)
    arrivals = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % DOC_ARRIVAL_MOD == 0
    )
    apply_doc_updates(spark, root, arrivals)
    _adopt_if_enabled(spark, sf_dir, root)
    return bigram_stats(spark, root)


INCR_BIGRAM_STATS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, {TOKENIZE_SQL.format(c="text")} AS t FROM documents
),
bg AS (
    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
    FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    WHERE len(t) >= 2
)
SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS n_occurrences
FROM bg GROUP BY w1, w2"""


def incremental_token_stats_stream(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming front door for the token-stats warehouse: arriving
    document files (complete images per doc_id) flow through
    :func:`apply_doc_updates` per micro-batch — the same scoped merges +
    change-feed folds as the batch path, driven by a file-source stream
    with a checkpoint. Drained over a static corpus it equals the batch
    build exactly (asserted in tests); in production it is the
    continuously-maintained twin of tokmemo's tables, the way
    ``incremental_cdf_aggregate_stream`` maintains the relational
    totals."""
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _apply(batch_df: DataFrame, _batch_no: int) -> None:
        if batch_df.isEmpty():
            return
        apply_doc_updates(
            batch_df.sparkSession, root, batch_df.transform(pin)
        )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- maintained curation rollup (VERDICT r8 #6) -----------------------------
#
# The incremental curation front door (incremental_curated_corpus_stream)
# maintains the keep-first content registry but not the downstream audit
# rollup — a release-notes table had to rescan everything. Here the
# per-document curation outcome (gopher gate + keep-first admission) is
# itself a maintained merge table with a change feed, and the
# per-(source, lang) funnel rollup is its CDF aggregate: a document batch
# costs O(batch) gate evaluation + a bucket-pruned registry probe + one
# signed-delta fold. Redelivered identical images produce
# preimage/postimage pairs whose deltas cancel (idempotent); admitted
# flags of earlier documents never change because keep-first admission is
# monotone — the first accepted copy keeps its slot forever.


def _curation_flags(spark: SparkSession, root: str, docs: DataFrame) -> DataFrame:
    """(doc_id, source, lang, pass_gopher, admitted) for a batch of
    complete document images, AFTER merging accepted content into the
    keep-first registry. ``admitted`` = this doc is the registry's kept
    copy of its content (true exactly for first accepted arrivals)."""
    from .docquality import gopher_flags

    p = _paths(root)
    flagged = (
        gopher_flags(docs)
        .select("doc_id", F.coalesce("pass_gopher", F.lit(False)).alias("pass_gopher"))
        .join(
            docs.select(
                "doc_id",
                "source",
                "lang",
                F.md5(F.trim(F.lower(F.col("text")))).alias("content_md5"),
            ),
            "doc_id",
        )
    ).transform(pin)  # gate once; consumed by merge + flags
    merge_upsert(
        spark,
        flagged.filter(F.col("pass_gopher")).select(
            "content_md5", "doc_id", "lang", "source"
        ),
        p["registry"],
        keys=["content_md5"],
        tiebreak_cols=["doc_id"],
        on_match="keep",
    )
    if os.path.isdir(p["registry"]):
        keepers = read_merge_target(spark, p["registry"]).select(
            "content_md5", F.col("doc_id").alias("keeper_id")
        )
    else:
        # nothing admitted yet (an all-rejected first batch is a no-op
        # merge that never materializes the registry) — no keepers
        keepers = spark.createDataFrame(
            [], "content_md5 string, keeper_id long"
        )
    return flagged.join(keepers, "content_md5", "left").select(
        "doc_id",
        "source",
        "lang",
        "pass_gopher",
        (F.col("pass_gopher") & (F.col("keeper_id") == F.col("doc_id"))).alias(
            "admitted"
        ),
    )


def apply_curation_docs(spark: SparkSession, root: str, docs: DataFrame) -> None:
    """Ingest a document batch into the curation audit tables: gate +
    admit, scoped-merge the per-doc outcome row (updates/deletes emit
    signed change rows), fold the feed into the rollup."""
    p = _paths(root)
    flags = _curation_flags(spark, root, docs).select(
        "doc_id",
        "source",
        "lang",
        F.col("pass_gopher").cast("long").alias("n_pass_gopher"),
        F.col("admitted").cast("long").alias("n_admitted"),
    )
    if os.path.isdir(p["doc_flags"]):
        # update path: pin the computed gate frame once — merge_upsert
        # references its updates several times (same r13 attribution as
        # apply_doc_updates); the initial full load stays unpinned
        flags = flags.transform(pin)
    merge_upsert(
        spark,
        flags,
        p["doc_flags"],
        keys=["doc_id"],
        scope=docs.select("doc_id"),
        changelog_dir=p["doc_flags_log"],
    )
    _fold_new_commits(
        spark,
        root,
        p["doc_flags_log"],
        p["curate_rollup"],
        ["source", "lang"],
        ["n_pass_gopher", "n_admitted"],
    )
    # curation roots are never adopt_token_stats targets today, so this is
    # a dict-lookup no-op — but the r12 #1 invariant is that EVERY merge
    # path that rewrites a root re-seeds, in the callee, so expanding the
    # adopted slot set can never reintroduce a dangling-frame crash
    _reseed_if_adopted(spark, root)


def curate_rollup(spark: SparkSession, root: str) -> DataFrame:
    """(source, lang, n_docs, n_pass_gopher, n_admitted, kept_rate) —
    the maintained release-notes rollup (live groups only)."""
    from ..operators import round_dbl

    live = read_cdf_totals(spark, _paths(root)["curate_rollup"])
    return live.select(
        "source",
        "lang",
        F.col("n_rows").alias("n_docs"),
        F.col("sum_n_pass_gopher").alias("n_pass_gopher"),
        F.col("sum_n_admitted").alias("n_admitted"),
        round_dbl(
            F.col("sum_n_admitted") / F.col("n_rows").cast("double"), 6
        ).alias("kept_rate"),
    )


def incr_curate_report_update_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the maintained curation rollup after ingesting the
    late-arriving 10% of documents. The oracle is the from-scratch batch
    statement of the same funnel: gopher gate per doc, keep-first
    admission ordered (base first, then arrivals; doc_id tiebreak within
    a batch), grouped by (source, lang)."""
    root = _warehouse_for(spark, sf_dir, kind="curate")
    arrivals = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % DOC_ARRIVAL_MOD == 0
    )
    apply_curation_docs(spark, root, arrivals)
    return curate_rollup(spark, root)


def _curate_oracle() -> str:
    from ..operators import round_dbl_sql
    from .docquality import TEXT_QUALITY_GOPHER_ORACLE

    return f"""
WITH gf AS (
    SELECT doc_id, COALESCE(pass_gopher, FALSE) AS pass_gopher
    FROM ({TEXT_QUALITY_GOPHER_ORACLE})
),
d AS (
    SELECT doc_id, source, lang,
        md5(trim(lower(text))) AS content_md5,
        CAST(doc_id % {DOC_ARRIVAL_MOD} = 0 AS INT) AS is_arrival
    FROM documents
),
adm AS (
    SELECT d.doc_id,
        ROW_NUMBER() OVER (
            PARTITION BY d.content_md5 ORDER BY is_arrival ASC, d.doc_id ASC
        ) = 1 AS admitted
    FROM d JOIN gf USING (doc_id) WHERE gf.pass_gopher
)
SELECT d.source, d.lang,
    COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN gf.pass_gopher THEN 1 ELSE 0 END) AS DOUBLE)
        AS n_pass_gopher,
    CAST(SUM(CASE WHEN COALESCE(adm.admitted, FALSE) THEN 1 ELSE 0 END)
        AS DOUBLE) AS n_admitted,
    {round_dbl_sql(
        "CAST(SUM(CASE WHEN COALESCE(adm.admitted, FALSE) THEN 1 ELSE 0 END)"
        " AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS kept_rate
FROM d
JOIN gf USING (doc_id)
LEFT JOIN adm USING (doc_id)
GROUP BY 1, 2"""


def register_all(register) -> None:
    register(
        "incr_token_stats_update_only",
        incr_token_stats_update_only,
        INCR_TOKEN_STATS_ORACLE,
    )
    register(
        "incr_bigram_stats_update_only",
        incr_bigram_stats_update_only,
        INCR_BIGRAM_STATS_ORACLE,
    )
    register(
        "incr_curate_report_update_only",
        incr_curate_report_update_only,
        _curate_oracle(),
    )
