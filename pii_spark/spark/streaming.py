"""Structured Streaming driver for the pipeline (SURVEY §2.9).

The batch pipeline is bounded, but the north rule's checkpoint-resume
requirement maps naturally onto Structured Streaming's own mechanism:
``readStream`` over the corpus directory + ``trigger(availableNow)`` +
``checkpointLocation`` gives exactly-once file-level progress tracking
for free — a killed run restarts from the last committed offset log and
never reprocesses a finished input file. This complements (and at file
granularity, subsumes) the icelite group ledger in jobs.py.

Every micro-batch runs the SAME run_pipeline plan via foreachBatch and
appends to an icelite table, so batch and streaming outputs are
byte-identical for identical inputs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..icelite.catalog import IceliteTable
from ..schema import CORPUS
from .pipeline import run_pipeline


def run_streaming_job(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    partitions: int | None = None,
    profile: str = "default",
    input_format: str = "parquet",
    recrawl_keys: str | None = None,
    recrawl_near: bool = False,
    classifier_model: str | None = None,
    domain_blocklist: str | None = None,
) -> IceliteTable:
    """Process all currently-available corpus files exactly once.
    ``profile`` selects run_pipeline's keep chain; like the batch job,
    it is recorded per batch summary so a restart under a different
    profile is detectable (every batch of one checkpoint must run the
    same chain). ``input_format="warc"`` watches a crawl landing dir
    instead: uncompressed ``.warc`` files stream through the lineSep
    record split + pure-Catalyst parse (one parse definition with the
    batch readers) — live-crawl ingest with the same ledgered
    exactly-once tail. ``input_format="warc_gz"`` watches a landing
    dir of per-record-gzip ``.warc.gz`` files (Common Crawl's actual
    distribution format, which the text datasource cannot split)
    through the binaryFile streaming source + the batch reader's
    member-stream record splitter — mixed dirs are fine, compression
    is detected per file by magic.

    ``recrawl_keys`` (a `jobs/run_base_keys.py` output dir) drops docs
    whose normalized text already exists in the base corpus from every
    micro-batch BEFORE the pipeline — a stream-static anti-join on the
    shared content fingerprint (the exact tier of incremental dedup).
    ``recrawl_near`` adds the MinHash band tier per micro-batch: the
    per-doc band-min aggregation that cannot run stream-static IS an
    ordinary batch groupBy inside foreachBatch (r7 — the earlier
    'near tier stays batch-only' note was an artifact of the
    stream-static framing). The key-set identity (":near"-suffixed
    when the tier is on, so toggling it is a recorded semantics
    change) is recorded per batch and a restart under different keys
    refuses loudly, like the profile guard.

    ``classifier_model`` (a `jobs/run_classifier.py` model dir) scores
    every batch's output rows in-line (``clf_score`` /
    ``clf_predict_pos`` over the scrubbed text — an ordinary batch
    join per micro-batch, like the recrawl drop); model identity is
    recorded per batch, restart under a different model refuses.
    ``domain_blocklist`` drops listed url domains from every batch
    before the pipeline (broadcast anti-join; identity-guarded like
    the other knobs)."""
    from ..detect.serving import head_identity

    head_id = head_identity()  # fails a missing or stale head up front
    out = IceliteTable(out_dir)

    bl_id = "none"
    bl_df = None
    if domain_blocklist is not None:
        from .jobs import domain_blocklist_identity

        bl_id = domain_blocklist_identity(domain_blocklist)
        bl_df = spark.read.parquet(domain_blocklist)

    clf_id = "none"
    clf_census = clf_meta = None
    if classifier_model is not None:
        from ..quality.classifier import (
            classifier_model_identity,
            load_quality_model,
        )

        clf_id = classifier_model_identity(classifier_model)
        clf_census, clf_meta = load_quality_model(spark, classifier_model)

    recrawl_id = "none"
    recrawl_fp_df = recrawl_sig_df = None
    recrawl_geo: dict = {}
    if recrawl_near and recrawl_keys is None:
        raise ValueError("recrawl_near needs recrawl_keys")
    if recrawl_keys is not None:
        from pathlib import Path as _Path

        from .incr_dedup import recrawl_keys_identity

        # sig.parquet + geometry fold in when the near tier is on
        # (review r7b)
        recrawl_id = recrawl_keys_identity(recrawl_keys,
                                           include_sig=recrawl_near)
        # static side read once per run; foreachBatch re-joins it per
        # micro-batch as an ordinary batch join
        recrawl_fp_df = spark.read.parquet(
            str(_Path(recrawl_keys) / "fp.parquet")
        )
        if recrawl_near:
            import json as _json

            km_path = _Path(recrawl_keys) / "keys_meta.json"
            if not km_path.exists():
                raise FileNotFoundError(
                    f"{km_path} is missing — the near tier needs the "
                    "recorded signature geometry"
                )
            recrawl_geo = _json.loads(km_path.read_text())
            recrawl_id = f"{recrawl_id}:near"
            recrawl_sig_df = spark.read.parquet(
                str(_Path(recrawl_keys) / "sig.parquet")
            )

    if input_format == "warc":
        from .warc import _DELIM, _parse_records

        stream = _parse_records(
            spark.readStream
            .option("lineSep", _DELIM)
            .option("maxFilesPerTrigger", max_files_per_trigger or 8)
            .text(corpus_dir)
        )
    elif input_format == "warc_gz":
        from .warc import read_warc_stream_binary

        stream = read_warc_stream_binary(
            spark, corpus_dir,
            max_files_per_trigger=max_files_per_trigger,
        )
    elif input_format == "parquet":
        reader = (
            spark.readStream.schema(CORPUS)
            .option("maxFilesPerTrigger", max_files_per_trigger or 8)
        )
        stream = reader.parquet(corpus_dir)
    else:
        raise ValueError(f"unknown input_format {input_format!r}")

    # ledger read ONCE per run, maintained in memory per batch —
    # re-scanning every manifest per micro-batch would make ledger
    # maintenance O(n^2) over the stream's lifetime (review r2)
    done = out.committed_groups("stream_batch")

    # batch ids are only unique PER CHECKPOINT: two streams (or a
    # checkpoint reset) appending to the same table both start at batch
    # 0, and a bare-batch-id ledger would silently DROP the second
    # stream's batches as "replays" (r3 regression test caught this).
    # Namespace the ledger key by the checkpoint's resolved path — the
    # stable identity of a resumable stream; restarts reuse it, distinct
    # streams don't.
    import hashlib
    from pathlib import Path as _P

    ck_ns = hashlib.md5(
        str(_P(checkpoint_dir).resolve()).encode()).hexdigest()[:12]
    # Legacy bare-int ledger entries (pre-namespacing format) are
    # consulted ONLY when this run RESUMES an already-started checkpoint
    # (offsets exist): such a replayed batch id may be a pre-migration
    # batch whose rows are already in the table, and ignoring the
    # legacy entry would duplicate them (ADVICE r3). A FRESH checkpoint
    # is a NEW stream — its batch 0 carries new data, and consulting
    # legacy ints there would silently DROP it (review r4: the same
    # cross-stream collision the namespacing fix exists to prevent).
    ck_is_resume = (_P(checkpoint_dir) / "offsets").exists()
    if ck_is_resume:
        # a restarted stream must run the same keep chain AND the same
        # recrawl-key set its committed batches ran (the shared guard
        # in jobs.py; review r6 collapsed four near-verbatim copies):
        # check this checkpoint's batches — namespaced keys, plus
        # legacy bare-int keys which only a resumed checkpoint may
        # own. The ledger carry keeps both checks non-vacuous after
        # expire_snapshots(); `fallback=bool(done)` covers batches
        # predating each field (they ran default / no drop).
        from .jobs import refuse_summary_drift

        def _this_ck(smry: dict) -> bool:
            return "stream_batch" in smry and (
                str(smry["stream_batch"]).startswith(f"{ck_ns}:")
                or isinstance(smry["stream_batch"], int)
            )

        refuse_summary_drift(
            out, "profile", profile, "default", _this_ck,
            fallback=bool(done),
            message=lambda stale, cur: (
                f"checkpoint {checkpoint_dir} has batches committed "
                f"under profile(s) {stale} but this restart requests "
                f"{cur!r} — keep semantics would differ across "
                "batches; use the original profile or a fresh "
                "checkpoint + table"
            ),
        )
        refuse_summary_drift(
            out, "recrawl_keys", recrawl_id, "none", _this_ck,
            fallback=bool(done),
            message=lambda stale, cur: (
                f"checkpoint {checkpoint_dir} has batches committed "
                f"under recrawl key set(s) {stale} but this restart "
                f"uses {cur!r} — recrawl-drop semantics would "
                "differ across batches; use the original keys or a "
                "fresh checkpoint + table"
            ),
        )
        refuse_summary_drift(
            out, "classifier", clf_id, "none", _this_ck,
            fallback=bool(done),
            message=lambda stale, cur: (
                f"checkpoint {checkpoint_dir} has batches committed "
                f"under classifier model(s) {stale} but this restart "
                f"uses {cur!r} — score semantics (and schemas) would "
                "differ across batches; use the original model or a "
                "fresh checkpoint + table"
            ),
        )
        refuse_summary_drift(
            out, "domain_blocklist", bl_id, "none", _this_ck,
            fallback=bool(done),
            message=lambda stale, cur: (
                f"checkpoint {checkpoint_dir} has batches committed "
                f"under domain blocklist(s) {stale} but this restart "
                f"uses {cur!r} — URL-filter semantics would differ "
                "across batches; use the original blocklist or a "
                "fresh checkpoint + table"
            ),
        )
        refuse_summary_drift(
            out, "token_head", head_id, "unrecorded", _this_ck,
            fallback=bool(done),
            message=lambda stale, cur: (
                f"checkpoint {checkpoint_dir} has batches committed "
                f"under token head(s) {stale} but this restart serves "
                f"{cur!r} — labels would come from different models "
                "across batches; use the original head or a fresh "
                "checkpoint + table"
            ),
        )

    def process_batch(batch_df, batch_id: int) -> None:
        # foreachBatch gives at-least-once delivery: if the driver dies
        # after our append but before the checkpoint offset commit,
        # Structured Streaming replays the batch on restart. The icelite
        # snapshot summary doubles as the dedup ledger (same pattern as
        # jobs.py group commits), making the append exactly-once.
        key = f"{ck_ns}:{int(batch_id)}"
        if key in done or (ck_is_resume and int(batch_id) in done):
            return
        if bl_df is not None:
            from .jobs import drop_blocklisted_domains

            batch_df = drop_blocklisted_domains(batch_df, bl_df)
        if recrawl_fp_df is not None:
            from .incr_dedup import drop_recrawls

            batch_df = drop_recrawls(batch_df, recrawl_fp_df)
        if recrawl_sig_df is not None:
            from .incr_dedup import drop_recrawls_near

            batch_df = drop_recrawls_near(
                batch_df, recrawl_sig_df,
                shingle_len=recrawl_geo["shingle_len"],
                stride=recrawl_geo["stride"],
                bands=recrawl_geo["bands"],
            )
        result = run_pipeline(batch_df, partitions=partitions,
                              profile=profile)
        if clf_census is not None:
            from ..quality.classifier import attach_quality_scores

            result = attach_quality_scores(result, clf_census, clf_meta)
        out.append(result, summary={"stream_batch": key,
                                    "profile": profile,
                                    "recrawl_keys": recrawl_id,
                                    "classifier": clf_id,
                                    "domain_blocklist": bl_id,
                                    "token_head": head_id})
        done.add(key)

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def run_stream_dedup(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    groups: int = 16,  # kept for API compat; state is keyed per-url now
) -> dict:
    """Custom stateful streaming operator via applyInPandasWithState:
    exact URL-dedup ACROSS micro-batches.

    State design (r3 rewrite, VERDICT r2 #3): state is keyed by the URL
    ITSELF, one boolean entry per distinct url — the same state shape
    Spark's built-in streaming ``dropDuplicates`` uses. Two properties
    the r2 bucket-keyed design lacked:

    * **O(new urls) state I/O per batch.** ``applyInPandasWithState``
      rewrites a key's whole state tuple on every ``update``, so the r2
      design (16 bucket keys, each holding the full accumulated md5
      set) re-serialized EVERY url ever seen on EVERY micro-batch —
      O(total²) cumulative bytes over a long stream. With per-url keys,
      only keys present in the current batch are touched; untouched
      state rows cost nothing. The returned ``numRowsUpdated`` state
      metric makes this driver-observable (pinned in tests).
    * **Exact, not hash-exact.** The r2 state stored md5(url)[:16] —
      64 bits, so ~10^4 silent birthday collisions at the 10^12-doc
      scale this targets (ADVICE r2). Keying by the url string has no
      collision mode; Spark's state store hashes internally but
      verifies the full key bytes.

    State size grows with distinct-url count — inherent to exact dedup;
    at 10^12 keys this runs unchanged on the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass``), which keeps
    state on disk per partition. Per-group Python dispatch is the cost
    of the *custom* operator shape; a production job wanting only plain
    url-dedup should use the built-in ``dropDuplicates(["url"])``,
    which is this exact plan JVM-side — this operator exists to carry
    custom per-key logic (payload selection here; TTLs, counters, or
    richer keep/drop policies in general).

    Payload selection is DETERMINISTIC (ADVICE r3): the surviving row
    for a url is the lexicographically-smallest ``text`` among that
    url's rows in the FIRST micro-batch containing it — shuffled
    group-arrival order within a batch (which varies with file/
    partition layout) cannot change the winner, and the state entry
    makes the first-batch choice stable across restarts.

    Returns a metrics dict: ``{"updated_state_rows": total
    numUpdatedStateRows across this run's micro-batches}``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = spark.read.parquet(corpus_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(corpus_dir)
        .select("url", "text")
    )

    def dedup(key, pdfs, state):
        import pandas as pd

        if state.exists:
            # url already emitted in an earlier batch: drain and drop.
            # No state.update → zero state bytes written for this key.
            for _ in pdfs:
                pass
            yield pd.DataFrame(
                {"url": pd.Series(dtype=object),
                 "text": pd.Series(dtype=object)})
            return
        # deterministic winner: min(text) over ALL of this url's rows
        # in the batch — arrival order of the Arrow chunks (a function
        # of file/partition layout) must not pick the survivor. Running
        # per-chunk min, O(1) state per key: a hot url with millions of
        # duplicates must not be concatenated into one frame and sorted
        # (review r4 — that is the exact skew shape crawl dedup meets)
        # NULL texts can't participate in min(): pandas object-dtype
        # min() raises TypeError on str/None mixes and yields NaN on
        # all-None chunks (ADVICE r4). Drop them per chunk; a key whose
        # rows are ALL null-text still emits one (url, NULL) row —
        # matching built-in dropDuplicates("url") semantics.
        best = None
        saw_rows = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            saw_rows = True
            s = pdf.dropna(subset=["text"])
            if not len(s):
                continue
            m = s["text"].min()
            row = s[s["text"] == m].iloc[[0]][["url", "text"]]
            if best is None or row["text"].iat[0] < best["text"].iat[0]:
                best = row
        state.update((True,))
        if best is None and saw_rows:
            best = pd.DataFrame({"url": [key[0]], "text": [None]})
        yield best if best is not None else pd.DataFrame(
            {"url": pd.Series(dtype=object),
             "text": pd.Series(dtype=object)})

    deduped = stream.groupBy("url").applyInPandasWithState(
        dedup,
        outputStructType="url string, text string",
        stateStructType="emitted boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # recentProgress keeps only the last numRecentProgressUpdates
    # (default 100) micro-batches; a long backfill would silently
    # undercount the metric (review r3) — raise retention for this run
    conf_key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "100000")
    try:
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        updated = 0
        n_progress = len(q.recentProgress)
        for p in q.recentProgress:
            for op in (p.get("stateOperators") or []):
                updated += int(op.get("numRowsUpdated") or 0)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return {"updated_state_rows": updated,
            "progress_events_seen": n_progress}


def run_session_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    gap: str = "30 minutes",
) -> None:
    """Session-window streaming aggregation — the third canonical
    Structured Streaming window shape next to tumbling
    (run_events_stream) and the batch sessionize query: per-user
    sessions close after ``gap`` of silence, emitted once the watermark
    passes the session end (append mode). State is bounded by the
    watermark; a restart resumes from the checkpoint."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_dedup_builtin(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Plain streaming URL-dedup via the built-in ``dropDuplicates`` —
    the JVM state-store twin of run_stream_dedup for jobs that need no
    custom per-key logic: identical state shape (one entry per url) and
    the same exactly-once / cross-restart semantics, with zero Python
    dispatch per group. This is the path a production job should take
    unless it carries custom keep/drop policy; run_stream_dedup exists
    to demonstrate the applyInPandasWithState operator shape."""
    schema = spark.read.parquet(corpus_dir).schema
    q = (
        spark.readStream.schema(schema).parquet(corpus_dir)
        .select("url", "text")
        .dropDuplicates(["url"])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_events_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> None:
    """Watermarked tumbling-window aggregation over an events stream
    (SURVEY §2.9): late rows older than the watermark are dropped, each
    window is emitted exactly once when the watermark passes its end
    (append mode), and the checkpoint makes restarts resume from the
    last committed offset. Batch twin: __spark_entry__.q_events_hourly.

    At cluster scale this is the canonical Structured Streaming shape —
    state store keyed by (window, event_type), partial aggregation
    map-side, watermark bounding state size.
    """
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # event-time watermarks require TIMESTAMP (pandas-written parquet
    # often carries TIMESTAMP_NTZ)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
