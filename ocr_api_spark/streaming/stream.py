"""Streaming extraction (SURVEY.md §2.7 streaming analogs).

The reference is request/response: each HTTP request is one document
arrival (app.py:2064).  The streaming re-expression treats the
``pages`` table as an unbounded source:

- ``readStream`` over the parquet/Iceberg directory (new files = new
  arrivals),
- the batch ``extraction_plan`` itself, optionally stream-static
  joined to the claims table, so a stream crosses into Python once per
  batch through the same ``fused_extract_udf`` as the batch pipeline,
- watermark on ``warc_ts`` + tumbling-window per-language counts (the
  metrics analog of the reference's per-request MySQL INSERT), and
- a running per-company credit decrement (J5, app.py:2251-2256) as a
  stateful aggregate over the claims stream.

All sinks checkpoint; ``availableNow`` triggers make the tests hermetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_api_spark.plans.pipeline import extraction_plan


def read_pages_stream(spark: SparkSession, pages_dir: str, schema=None) -> DataFrame:
    reader = spark.readStream.format("parquet")
    if schema is None:
        schema = spark.read.parquet(pages_dir).schema
    return reader.schema(schema).option("maxFilesPerTrigger", 8).load(pages_dir)


def extraction_stream(pages: DataFrame, claims_static: DataFrame | None = None) -> DataFrame:
    """The batch extraction plan applied to a stream.  With
    ``claims_static`` the pages stream joins the (slowly-changing) claims
    table and each claimed row gets its doc_type and match fold; without
    it doc_type is null (extraction defaults to 'pan') and the match
    fold is empty.  One bucket, one salt and no repartition: a stream
    has no bucket-partitioned sink to align with."""
    out = extraction_plan(pages, claims_static, 1, 1)
    return out.select("url", "warc_ts", "lang", "doc_type", "extracted_text", "status", "match")


def dedup_stream(pages: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on the content fingerprint — the
    ingestion-time counterpart of the batch ``dedupe_pages`` pass: a
    training-data crawler re-delivers identical payloads (re-crawls,
    mirror hosts), and dropping them ON ARRIVAL keeps duplicate bytes
    out of every downstream stage.

    State is bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark``): a fingerprint seen again inside
    the horizon is dropped, and state older than the horizon is evicted
    — without the bound, corpus-scale dedup state would grow without
    limit.  Duplicates farther apart than the horizon pass through;
    the batch exact-dedup pass remains the cross-horizon backstop (the
    same accept-then-compact split Iceberg ingestion pipelines use).
    Same fingerprint definition as ``dedupe_pages``: text payload, else
    the raw html bytes."""
    fingerprint = F.md5(
        F.coalesce(
            F.nullif(F.col("text"), F.lit("")), F.col("html").cast("string"), F.lit("")
        )
    )
    return (
        pages.withColumn("fingerprint", fingerprint)
        # parquet crawl timestamps arrive as TIMESTAMP_NTZ; event-time
        # watermarks require the instant type
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def with_near_key(pages: DataFrame, n: int = 3, k: int = 4) -> DataFrame:
    """The near-dup key as a pure projection (usable on batch frames
    too): k shingle-set min-hashes concatenated; html-md5 fallback for
    text-less rows.  See ``near_dup_stream`` for semantics."""
    from ocr_api_spark.operators.dedup import _minhash_hash, _shingle_array

    def mh(j: int):
        return F.array_min(F.transform(F.col("__sh"), lambda s: _minhash_hash(j, s)))

    return pages.withColumn("__sh", _shingle_array("text", n)).withColumn(
        "near_key",
        F.coalesce(
            F.nullif(F.concat_ws("|", *[mh(j) for j in range(k)]), F.lit("")),
            F.md5(F.col("html").cast("string")),
            # ADVICE r7: rows with no shingles AND null html used to
            # collapse onto the literal "" key, so distinct empty-payload
            # documents were silently deduped against each other inside
            # the watermark horizon.  A keyless row now keys on its own
            # url (per-row unique) and passes through undeduplicated;
            # "" remains only as the final never-in-practice resort.
            F.col("url").cast("string"),
            F.lit(""),
        ),
    ).drop("__sh")


def near_dup_stream(
    pages: DataFrame, watermark: str = "2 hours", n: int = 3, k: int = 4
) -> DataFrame:
    """Ingestion-time NEAR-dup guard — the minhash step of the batch
    LSH pass moved to arrival time.  The k min-hashes are a pure
    projection (`_shingle_array` + array_min fold — value-identical to
    the keys ``minhash_signatures_arr`` computes, which r8 moved to an
    explode+aggregate shape for batch throughput; the streaming side
    keeps the fold because a pre-drop aggregate would add stateful
    shuffle to the stream) concatenated
    into one key; ``dropDuplicatesWithinWatermark`` on that key drops
    re-deliveries whose distinct-shingle minima ALL agree — the
    formatting/boilerplate re-crawl variants whose md5 differs, which
    ``dedup_stream`` passes through.  One concatenated band = all-k
    agreement: high precision, recall limited to near-identical shingle
    sets; cross-band recall and clustering stay with the batch LSH pass
    (the same accept-then-compact split as dedup_stream's cross-horizon
    backstop).  State is one row per key inside the watermark horizon.
    Text-less rows (html-only payloads) fall back to the raw-bytes md5
    so they dedupe exactly rather than all sharing an empty key."""
    return (
        with_near_key(pages, n=n, k=k)
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["near_key"])
    )


MASK_REGION_SCHEMA = "doc_id long, region_idx int, x_min int, y_min int, x_max int, y_max int"


def masking_stream(token_pages: DataFrame) -> DataFrame:
    """Streaming Aadhaar masking (I11 at ingestion time — the
    mask-on-arrival counterpart of the batch masking branch,
    app.py:5731-5780 semantics via kernels/masking.py): each arriving
    row carries a document's OCR token table pre-grouped as an
    array<struct> column (one row per doc keeps the stream stateless —
    grouped ``applyInPandas`` is a batch-only API), and one Arrow-
    batched ``mapInPandas`` stage emits a row per mask rectangle in
    reference order.  Works identically on batch and streaming frames;
    no per-row Python UDF, no state, so the only streaming concern is
    the source/sink pair the caller picks."""
    import pandas as pd

    from ocr_api_spark.kernels.masking import mask_aadhaar_regions

    def gen(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "region_idx": [],
                "x_min": [], "y_min": [], "x_max": [], "y_max": [],
            }
            for doc_id, h, w, toks in zip(
                pdf["doc_id"], pdf["img_h"], pdf["img_w"], pdf["tokens"]
            ):
                token_list = [
                    (t["text"], float(t["conf"]), [list(p) for p in t["box"]])
                    for t in toks
                ]
                for i, r in enumerate(mask_aadhaar_regions(token_list, int(h), int(w))):
                    out["doc_id"].append(int(doc_id))
                    out["region_idx"].append(i)
                    out["x_min"].append(r["x_min"])
                    out["y_min"].append(r["y_min"])
                    out["x_max"].append(r["x_max"])
                    out["y_max"].append(r["y_max"])
            yield pd.DataFrame(out).astype(
                {"doc_id": "int64", "region_idx": "int32", "x_min": "int32",
                 "y_min": "int32", "x_max": "int32", "y_max": "int32"}
            )

    return token_pages.mapInPandas(gen, MASK_REGION_SCHEMA)


def windowed_doc_counts(extracted: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Late-data-tolerant per-language tumbling-window counts."""
    # parquet written by pandas carries TIMESTAMP_NTZ; event time must be
    # TIMESTAMP for watermarks
    extracted = extracted.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("status") == "Failed", 1).otherwise(0)).alias("failed"),
        )
        .select(F.col("w.start").alias("window_start"), "lang", "docs", "failed")
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "lang",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Gap-based sessionization ON A STREAM via the native
    ``session_window`` (Catalyst-managed state, merges on late data
    within the watermark) — the declarative form of the batch
    events_sessions window chain; no custom state code."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), key_col)
        .agg(F.count("*").alias("docs"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            key_col,
            "docs",
        )
    )


def credits_stream(claims: DataFrame, initial_credits: int = 1000) -> DataFrame:
    """Per-company running credit decrement (J5): each claim consumes one
    credit.  Expressed as a streaming aggregate (complete mode) — at
    production scale this MERGEs into the accounts table per batch."""
    return claims.groupBy("company").agg(
        (F.lit(initial_credits) - F.count("*")).alias("credits_left"),
        F.count("*").alias("docs_processed"),
    )


def credits_ledger_stream(claims: DataFrame, initial_credits: int = 1000) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-company credit ledger (the exact streaming analog of the
    reference's SELECT→minus-1→UPDATE per request, app.py:2251-2256,
    including the negative-balance possibility the reference's
    ``is_negative_credit_allowed`` flag exists for)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "company string, credits_left long, docs_processed long"
    state_schema = "credits_left long, docs_processed long"

    def update(key, pdfs, state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        if state.exists:
            credits_left, docs = state.get
        else:
            credits_left, docs = initial_credits, 0
        credits_left -= n
        docs += n
        state.update((credits_left, docs))
        yield pd.DataFrame(
            {"company": [key[0]], "credits_left": [credits_left], "docs_processed": [docs]}
        )

    return claims.groupBy("company").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# lease sizing (ADVICE r4 + review r5, two constraints in tension):
# (a) the break-by-age TTL must sit INSIDE the wait budget, or a
#     hard-killed holder's lock can never be broken before the waiting
#     stream exhausts its retries and BlockingIOError terminates the
#     streaming query (the r4 finding — the 3600 s default failed this);
# (b) the TTL is an UNFENCED LEASE: the heartbeat refreshes the lock
#     mtime every TTL/6 while the holder is scheduled, but a holder
#     descheduled longer than the TTL (VM pause, swap storm, SIGSTOP)
#     can still be broken while alive — plain filesystems offer no
#     fencing token, so the TTL is the stall bound we accept, and it
#     should comfortably exceed any plausible pause.
# 120 s TTL / 240 s wait: a dead holder delays merges by ~2 min worst
# case (crash recovery, acceptable for a ledger), while a live holder
# would have to miss ~6 consecutive heartbeats to be usurped.
_MERGE_LOCK_ATTEMPTS = 120
_MERGE_LOCK_WAIT_SEC = 2.0
_MERGE_LOCK_TTL_SEC = 120.0


def merge_credits_batch(
    spark: SparkSession,
    accounts_path: str,
    batch_df: DataFrame,
    batch_id: int,
    run_id: str = "default",
) -> bool:
    """One idempotent MERGE: gate the batch against the current accounts
    state, decrement admitted rows, commit the new snapshot atomically.

    foreachBatch is at-least-once — a crash between the snapshot commit
    and Spark's checkpoint commit re-delivers the batch — so the applied
    watermark travels INSIDE the accounts snapshot (one os.replace
    covers both) and a replay is a no-op.

    The watermark is keyed by ``run_id`` (ADVICE r2): foreachBatch batch
    ids restart at 0 whenever the checkpoint directory is recreated, and
    a second stream may merge into the same accounts table, so a single
    global max batch_id would silently drop genuinely new batches.  A
    per-run map ``{run_id: last_batch_id}`` dedupes replays within each
    stream without streams interfering; pass the checkpoint's stable
    query id (``run_credits_merge_stream`` does).

    The whole read→gate→decrement→replace section runs under an O_EXCL
    lock (ADVICE r3): the watermark dedupes REPLAYS, but two live
    streams merging into the same accounts table are an unlocked
    read-modify-write — both read the snapshot, both ``os.replace`` it,
    and the loser's decrement AND watermark silently vanish (lost
    update).  The lock serializes writers with a bounded backoff WAIT
    on contention — an exception out of a foreachBatch function
    TERMINATES the streaming query (Spark does not retry the
    micro-batch), so the routine two-live-streams collision must block
    briefly, not kill a stream (review r4).  Only exhausting the wait
    (holder wedged far beyond a merge's duration) raises
    ``BlockingIOError``, which is then a real operational fault.
    Break-by-age handles a hard-killed holder (plans/locks.py).
    Returns whether the batch was applied."""
    import time as _time

    from ocr_api_spark.plans import locks

    lock_path = accounts_path + ".merge.lock"
    token = None
    for attempt in range(_MERGE_LOCK_ATTEMPTS):
        token = locks.try_acquire(lock_path, ttl_sec=_MERGE_LOCK_TTL_SEC)
        if token is not None:
            break
        _time.sleep(_MERGE_LOCK_WAIT_SEC)
    if token is None:
        raise BlockingIOError(f"accounts merge lock contended: {lock_path}")
    stop_heartbeat = locks.start_heartbeat(lock_path, token, _MERGE_LOCK_TTL_SEC / 6.0)
    try:
        return _merge_credits_batch_locked(spark, accounts_path, batch_df, batch_id, run_id)
    finally:
        stop_heartbeat()
        locks.release(lock_path, token)


def _merge_credits_batch_locked(
    spark: SparkSession,
    accounts_path: str,
    batch_df: DataFrame,
    batch_id: int,
    run_id: str,
) -> bool:
    import json as _json
    import os

    from ocr_api_spark.operators.access import admitted, credit_decrements

    accounts = spark.read.parquet(accounts_path)
    applied: dict[str, int] = {}
    meta_cols = [c for c in ("__applied_json", "__last_batch_id") if c in accounts.columns]
    if meta_cols:
        head = accounts.select(*meta_cols).first()  # None on a 0-row snapshot
        if head is None:
            pass
        elif "__applied_json" in meta_cols and head["__applied_json"]:
            applied = {k: int(v) for k, v in _json.loads(head["__applied_json"]).items()}
        elif "__last_batch_id" in meta_cols and head["__last_batch_id"] is not None:
            # legacy single-watermark snapshot: adopt as the default run
            applied = {"default": int(head["__last_batch_id"])}
    if run_id in applied and batch_id <= applied[run_id]:
        return False  # already applied (foreachBatch replay)
    gate_accounts = accounts.drop(*meta_cols) if meta_cols else accounts

    decs = credit_decrements(admitted(batch_df, gate_accounts)).collect()
    dec_map = {r["company"]: int(r["credits_used"]) for r in decs}
    acc_pdf = gate_accounts.toPandas()
    acc_pdf["credits_left"] = [
        int(c) - dec_map.get(co, 0)
        for co, c in zip(acc_pdf["company"], acc_pdf["credits_left"])
    ]
    applied[run_id] = batch_id
    acc_pdf["__applied_json"] = _json.dumps(applied, sort_keys=True)
    tmp = accounts_path + f".tmp-{batch_id}"
    acc_pdf.to_parquet(tmp, index=False)
    os.replace(tmp, accounts_path)
    return True


def _stream_run_id(checkpoint_dir: str) -> str:
    """The stable identity of a streaming checkpoint: Spark writes a
    ``metadata`` JSON with the query id at stream start and regenerates
    it when the directory is recreated — exactly the lifetime the
    replay watermark must share."""
    import json as _json
    import os

    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return str(_json.load(f)["id"])
    except (OSError, ValueError, KeyError):
        return "default"


def run_credits_merge_stream(
    spark: SparkSession, claims_dir: str, accounts_path: str, checkpoint_dir: str
) -> None:
    """J5 at the sink: per-micro-batch MERGE of credit decrements into
    the accounts table via ``foreachBatch`` — the end-to-end form of the
    reference's SELECT→minus-1→UPDATE transaction (app.py:2251-2256)
    combined with the J6 gate (app.py:163-194):

    - each batch re-reads the CURRENT accounts state,
    - admits requests through the access gate against it (so a company
      whose balance went negative stops consuming unless
      ``is_negative_credit_allowed``),
    - decrements only admitted rows, and
    - commits the new accounts snapshot atomically (single-file parquet
      + ``os.replace``; on Iceberg this same plan is
      ``MERGE INTO accounts USING decrements``).

    Accounts are a per-company dim — tiny at any corpus scale — so the
    per-batch driver-side merge is bounded; the heavy side (requests)
    stays distributed through the gate and the groupBy."""
    schema = spark.read.parquet(claims_dir).schema

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_credits_batch(
            spark, accounts_path, batch_df, batch_id, run_id=_stream_run_id(checkpoint_dir)
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(claims_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_once(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Process everything currently in ``pages_dir`` (availableNow) into
    parquet, exactly-once via the checkpoint."""
    stream = extraction_stream(read_pages_stream(spark, pages_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
