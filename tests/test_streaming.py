"""Structured Streaming smoke tests: memory sink + processAllAvailable
drives a parquet-backed stream to completion synchronously."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus
from entitymatch_spark.streaming.incremental import (
    incremental_fingerprints,
    incremental_match,
    incremental_minhash_keys,
    streaming_event_counts,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_pages")
    fx = generate_corpus(n_clusters=20, seed=21)
    pages = corpus_to_spark(spark, fx)["pages"].drop("cluster_id")
    pages.write.mode("overwrite").parquet(str(d))
    return str(d), pages


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"select * from {name}")


def test_incremental_fingerprints_match_batch(spark, pages_dir):
    d, pages = pages_dir
    stream = spark.readStream.schema(pages.schema).parquet(d)
    out = _run_stream(spark, incremental_fingerprints(stream), "fp_sink")
    got = {(r["url"], r["fingerprint"]) for r in out.collect()}
    want = {
        (r["url"], r["fingerprint"])
        for r in incremental_fingerprints(pages).collect()  # same expr on batch
    }
    assert got == want and len(got) == pages.count()


def test_incremental_minhash_keys_match_batch(spark, pages_dir):
    d, pages = pages_dir
    stream = spark.readStream.schema(pages.schema).parquet(d)
    out = _run_stream(spark, incremental_minhash_keys(stream), "mh_sink")
    got = {(r["doc_id"], r["key"]) for r in out.collect()}
    want = {(r["doc_id"], r["key"]) for r in incremental_minhash_keys(pages).collect()}
    assert got == want
    assert len({k for _, k in got}) > 10  # several distinct band keys


def test_incremental_match_parity_with_batch(spark, tmp_path):
    """Streaming record linkage == batch scoring of the same (new x
    indexed) candidate pairs, value-for-value: the stream path reuses
    the batch keys and the batch scorer, so scores must agree exactly.
    Also under a capped IDF dictionary: the stream then scores tokens
    outside the dictionary at the same default as the batch path
    (collect_idf_map_bounded's tail mean, not the 1e-5 floor)."""
    from entitymatch_spark.operators.blocking import (
        lsh_band_keys, minhash_signature, prune_oversized_blocks,
        token_blocking_keys,
    )
    from entitymatch_spark.operators.posting import (
        IDF_FLOOR, build_posting, collect_idf_map, collect_idf_map_bounded,
        token_idf,
    )
    from entitymatch_spark.operators.scoring import score_pairs
    from entitymatch_spark.plans.pipeline import MatchConfig, prepare_docs

    cfg = MatchConfig()
    fx = generate_corpus(n_clusters=25, seed=33)
    with_cl = corpus_to_spark(spark, fx)["pages"]
    # one member of each multi-doc cluster "arrives later" — its
    # near-dups stay behind in the indexed corpus
    from pyspark.sql import Window

    multi = with_cl.withColumn(
        "n", F.count("*").over(Window.partitionBy("cluster_id"))
    ).filter(F.col("n") >= 2)
    late = multi.withColumn(
        "rn", F.row_number().over(Window.partitionBy("cluster_id").orderBy("url"))
    ).filter(F.col("rn") == 1).select("url").limit(6)
    pages = with_cl.drop("cluster_id")
    new = pages.join(late, "url", "left_semi").persist()
    static_pages = pages.join(new.select("url"), "url", "left_anti")

    docs = prepare_docs(static_pages, cfg).persist()
    n_docs = docs.count()
    posting = build_posting(docs)
    idf = token_idf(posting, n_docs=n_docs)
    keys = token_blocking_keys(posting, idf, min_idf=cfg.min_idf).unionByName(
        lsh_band_keys(
            minhash_signature(docs, num_hashes=cfg.num_hashes, seed=cfg.seed),
            bands=cfg.bands, rows_per_band=cfg.rows_per_band,
        )
    )
    keys = prune_oversized_blocks(keys, cfg.max_block).persist()

    d = tmp_path / "arrivals"
    new.write.mode("overwrite").parquet(str(d))

    # batch oracle: same keys for the new docs, joined to static keys
    new_docs = prepare_docs(new, cfg)
    new_posting = build_posting(new_docs)
    new_keys = token_blocking_keys(new_posting, idf, min_idf=cfg.min_idf).unionByName(
        lsh_band_keys(
            minhash_signature(new_docs, num_hashes=cfg.num_hashes, seed=cfg.seed),
            bands=cfg.bands, rows_per_band=cfg.rows_per_band,
        )
    )
    cand = (
        new_keys.withColumnRenamed("doc_id", "id_a")
        .join(keys.select(F.col("doc_id").alias("id_b"), "key"), "key")
        .select("id_a", "id_b")
        .distinct()
    )
    all_docs = docs.unionByName(new_docs)

    capped_map, capped_default = collect_idf_map_bounded(idf, 100)
    # the cap really drops tokens (this corpus has ~170), so the
    # default IDF is in play
    assert len(capped_map) == 100 and capped_default != IDF_FLOOR
    cases = [
        (cfg, "match_sink", collect_idf_map(idf), IDF_FLOOR),
        (MatchConfig(idf_max_entries=100), "match_sink_capped",
         capped_map, capped_default),
    ]
    for run_cfg, sink, idf_map, default_idf in cases:
        stream = spark.readStream.schema(new.schema).parquet(str(d))
        out = _run_stream(
            spark, incremental_match(stream, docs, keys, idf, run_cfg), sink
        )
        got = {(r["id_a"], r["id_b"]): round(r["score"], 9) for r in out.collect()}
        want_rows = score_pairs(
            cand, all_docs, spark.sparkContext.broadcast(idf_map),
            default_idf=default_idf,
        ).collect()
        want = {(r["id_a"], r["id_b"]): round(r["score"], 9) for r in want_rows}

        assert got == want, sink
        assert got, "expected the new docs to match their indexed near-dups"
        # matched near-dups exist above the default threshold
        assert any(s >= cfg.threshold for s in got.values())


def test_incremental_match_watermarked_dedup(spark, tmp_path):
    """The bounded-state variant: with a watermark on the arrival time,
    dropDuplicatesWithinWatermark dedups candidate pairs and the scored
    output matches the unbounded-dedup variant on a bounded stream."""
    from entitymatch_spark.operators.blocking import (
        lsh_band_keys, minhash_signature, prune_oversized_blocks,
        token_blocking_keys,
    )
    from entitymatch_spark.operators.posting import build_posting, token_idf
    from entitymatch_spark.plans.pipeline import MatchConfig, prepare_docs

    cfg = MatchConfig()
    fx = generate_corpus(n_clusters=12, seed=44)
    pages = corpus_to_spark(spark, fx)["pages"].drop("cluster_id")
    new = pages.limit(5).persist()
    static_pages = pages.join(new.select("url"), "url", "left_anti")
    docs = prepare_docs(static_pages, cfg).persist()
    idf = token_idf(build_posting(docs), n_docs=docs.count())
    keys = prune_oversized_blocks(
        token_blocking_keys(build_posting(docs), idf, min_idf=cfg.min_idf).unionByName(
            lsh_band_keys(minhash_signature(docs, seed=cfg.seed))
        ),
        cfg.max_block,
    ).persist()

    d = tmp_path / "wm_arrivals"
    new.write.mode("overwrite").parquet(str(d))

    def run(wm: bool, name: str):
        stream = spark.readStream.schema(new.schema).parquet(str(d))
        if wm:
            stream = stream.withWatermark("warc_ts", "1 hour")
        out = incremental_match(
            stream, docs, keys, idf, cfg, dedup_within_watermark=wm,
        )
        return {
            (r["id_a"], r["id_b"]): round(r["score"], 9)
            for r in _run_stream(spark, out.drop("warc_ts"), name).collect()
        }

    bounded = run(True, "wm_sink")
    unbounded = run(False, "nowm_sink")
    assert bounded == unbounded and bounded


def test_streaming_event_counts(spark, tmp_path):
    events = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i % 50:02d}:00", "click" if i % 3 else "view", float(i))
         for i in range(100)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    events.write.mode("overwrite").parquet(str(tmp_path / "ev"))
    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "ev"))
    agg = streaming_event_counts(stream, window="10 minutes")
    q = (
        agg.writeStream.format("memory").queryName("ev_sink")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from ev_sink").collect()
    # append mode emits only windows closed by the watermark; with a
    # bounded source the final windows stay open — check the closed ones
    batch = (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    want = {(r["win_start"], r["event_type"]): r["n"] for r in batch.collect()}
    for r in rows:
        assert want[(r["win_start"], r["event_type"])] == r["n"]


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: state survives micro-batch
    boundaries (maxFilesPerTrigger=1) and idle sessions flush via
    event-time timeout once the watermark passes last_event + gap."""
    import os
    import pandas as pd

    from entitymatch_spark.streaming.stateful import sessionize_stream

    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = []  # (user_id, ts, value)
    for uid in range(1, 5):
        t = base + pd.Timedelta(minutes=uid)
        for sess in range(3):          # 3 sessions per user
            for k in range(4):         # 4 events per session, 5-min gaps
                rows.append((uid, t, float(uid * 100 + sess * 10 + k)))
                t += pd.Timedelta(minutes=5)
            t += pd.Timedelta(minutes=45)  # > 30-min gap closes the session
    # sentinel far in the future: advances the watermark so every other
    # user's final session times out and flushes
    sentinel_uid, sentinel_ts = 999, base + pd.Timedelta(days=10)
    rows.append((sentinel_uid, sentinel_ts, 0.0))

    rows.sort(key=lambda r: r[1])
    d = tmp_path / "sess_ev"
    d.mkdir()
    chunks = [rows[: len(rows) // 3], rows[len(rows) // 3 : 2 * len(rows) // 3],
              rows[2 * len(rows) // 3 :]]
    for i, chunk in enumerate(chunks):
        df = spark.createDataFrame(
            [(u, t.to_pydatetime(), v) for u, t, v in chunk],
            "user_id long, ts timestamp, value double",
        )
        p = d / f"chunk-{i}"
        df.coalesce(1).write.parquet(str(p))
        for f in p.rglob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/*")
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
        .writeStream.format("memory").queryName("sess_sink")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total"])
        for r in spark.sql("select * from sess_sink").collect()
    }

    # pandas oracle: split per-user ts-sorted events on >30-min gaps
    want = set()
    byu: dict = {}
    for u, t, v in rows:
        byu.setdefault(u, []).append((t, v))
    for u, evs in byu.items():
        if u == sentinel_uid:
            continue  # its session never closes (watermark stops 2h short)
        evs.sort()
        cur = [evs[0]]
        for e in evs[1:]:
            if (e[0] - cur[-1][0]) > pd.Timedelta(minutes=30):
                want.add((u, cur[0][0].to_pydatetime(), cur[-1][0].to_pydatetime(),
                          len(cur), sum(v for _, v in cur)))
                cur = []
            cur.append(e)
        want.add((u, cur[0][0].to_pydatetime(), cur[-1][0].to_pydatetime(),
                  len(cur), sum(v for _, v in cur)))
    assert got == want, (len(got), len(want))


def test_stateful_sessionize_late_event_extends_backward(spark, tmp_path):
    """A late event (inside the watermark) OLDER than the open session's
    state must extend the session BACKWARD (start = min), never move
    `last` backward: the pre-fix code set last=9:40 after a 10:00
    event, emitting session_end < session_start and pulling the
    event-time timeout earlier than already promised."""
    import os
    import pandas as pd

    from entitymatch_spark.streaming.stateful import sessionize_stream

    t0 = pd.Timestamp("2024-03-01 10:00:00")
    late = pd.Timestamp("2024-03-01 09:40:00")
    sentinel = (999, pd.Timestamp("2024-03-05 00:00:00"), 0.0)
    chunks = [
        [(1, t0, 1.0)],            # opens the session at 10:00
        [(1, late, 2.0)],          # late but within the 2h watermark
        [sentinel],                # advances watermark -> flush user 1
    ]
    d = tmp_path / "late_ev"
    d.mkdir()
    for i, chunk in enumerate(chunks):
        df = spark.createDataFrame(
            [(u, t.to_pydatetime(), v) for u, t, v in chunk],
            "user_id long, ts timestamp, value double",
        )
        p = d / f"chunk-{i}"
        df.coalesce(1).write.parquet(str(p))
        for f in p.rglob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/*")
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
        .writeStream.format("memory").queryName("late_sink")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total"])
        for r in spark.sql(
            "select * from late_sink where user_id = 1"
        ).collect()
    ]
    assert got == [
        (1, late.to_pydatetime(), t0.to_pydatetime(), 2, 3.0)
    ], got


def test_stateful_sessionize_dst_uses_epoch_arithmetic(spark, tmp_path):
    """Gap/timeout arithmetic must run in TRUE epoch time: two events 55
    true-minutes apart straddling the US spring-forward transition read
    1h55m apart in WALL clock — wall-clock arithmetic would falsely
    split the session at gap=60min. Emitted bounds still come back as
    session-tz wall clock (the timestamp-column contract)."""
    import os

    from entitymatch_spark.streaming.stateful import sessionize_stream

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # 2024-03-10 09:30Z = 01:30 PST; +55min = 10:25Z = 03:25 PDT
        t1 = 1710063000
        t2 = t1 + 55 * 60
        sentinel = (999, t1 + 30 * 86400, 0.0)
        chunks = [[(1, t1, 1.0), (1, t2, 2.0)], [sentinel]]
        d = tmp_path / "dst_ev"
        d.mkdir()
        for i, chunk in enumerate(chunks):
            df = spark.createDataFrame(
                chunk, "user_id long, epoch long, value double"
            ).select(
                "user_id", F.timestamp_seconds("epoch").alias("ts"), "value"
            )
            p = d / f"chunk-{i}"
            df.coalesce(1).write.parquet(str(p))
            for f in p.rglob("*.parquet"):
                os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d) + "/*")
        )
        q = (
            sessionize_stream(stream, gap_minutes=60, watermark="2 hours")
            .writeStream.format("memory").queryName("dst_sink")
            .outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("select * from dst_sink where user_id = 1").collect()
        assert len(rows) == 1, rows          # ONE session: true gap 55min < 60
        r = rows[0]
        assert r["n_events"] == 2 and r["total"] == 3.0
        # collect() round-trips timestamps through the OS tz symmetrically,
        # so .timestamp() recovers the true epoch instants exactly
        assert int(r["session_start"].timestamp()) == t1
        assert int(r["session_end"].timestamp()) == t2
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_stream_gates_pin_utc_and_restore(spark):
    """The registry's streaming gates run under @_pinned_utc: the
    computation is pinned to UTC (the oracle's epoch contract) but the
    CALLER's session timezone must come back — a leaked pin would make
    every timestamp-rendering query ordered after the gates
    order-dependent within one verification run. Values must also be
    identical whatever tz the caller had (unix_micros output)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()["stream_sessionize"]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rows_ny = sorted(map(tuple, q(spark, sf).collect()))
        assert (
            spark.conf.get("spark.sql.session.timeZone")
            == "America/New_York"
        ), "gate leaked its UTC pin into the caller's session"
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        rows_utc = sorted(map(tuple, q(spark, sf).collect()))
        assert rows_ny == rows_utc and len(rows_utc) > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_stateful_sessionize_drops_null_event_times(spark, tmp_path):
    """A NULL event time is not caught by the watermark late filter
    (NULL predicate) and used to poison state: NaT.astype(int64) is
    int64-min, corrupting session_start and crashing the flush with
    OutOfBoundsDatetime — persistently, via the checkpoint. NULL-ts
    rows must be dropped; the session over the remaining events is
    untouched."""
    import os
    import pandas as pd

    from entitymatch_spark.streaming.stateful import sessionize_stream

    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [(1, base, 1.0), (1, base + pd.Timedelta(minutes=5), 2.0),
            (1, None, 99.0)]  # the poison row
    rows.append((999, base + pd.Timedelta(days=10), 0.0))  # sentinel
    d = tmp_path / "null_ev"
    d.mkdir()
    df = spark.createDataFrame(
        [(u, t.to_pydatetime() if t is not None else None, v) for u, t, v in rows],
        "user_id long, ts timestamp, value double",
    )
    p = d / "chunk-0"
    df.coalesce(1).write.parquet(str(p))
    for f in p.rglob("*.parquet"):
        os.utime(f, (1_700_000_000, 1_700_000_000))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(str(d) + "/*")
    )
    out = _run_stream(
        spark, sessionize_stream(stream, gap_minutes=30, watermark="1 hour"),
        "null_ts_sess",
    ).filter(F.col("user_id") == 1).collect()
    assert len(out) == 1
    assert out[0].n_events == 2 and out[0].total == 3.0  # 99.0 dropped
