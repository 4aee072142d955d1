"""Tests for CSV normalization sources, negative-sampling joins, matcher
preprocessing options, and the streaming ingestion path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def test_sniff_and_normalize_csv(spark, tmp_path):
    from ertransfer_spark.sources.normalizer import (
        read_csv_normalized,
        read_matches_normalized,
        sniff_separator,
    )

    p = tmp_path / "tableA.csv"
    p.write_text("Id;name;year\n1;alpha beta;1999\n2;;2001\n")
    assert sniff_separator(spark, str(p)) == ";"
    df = read_csv_normalized(spark, str(p))
    rows = {r["id"]: r for r in df.collect()}
    assert df.columns == ["id", "name", "year"]
    assert rows[1]["name"] == "alpha beta"
    assert rows[2]["name"] == ""  # NaN → '' contract
    assert rows[2]["year"] == "2001"  # attributes stay strings

    m = tmp_path / "matches.csv"
    m.write_text("D1|D2\n1|7\n2|9\n")
    md = read_matches_normalized(spark, str(m))
    assert md.columns == ["tableA_id", "tableB_id"]
    assert md.count() == 2


def test_csv_missing_id_raises(spark, tmp_path):
    from ertransfer_spark.sources.normalizer import read_csv_normalized

    p = tmp_path / "noid.csv"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match="id"):
        read_csv_normalized(spark, str(p))


def test_read_jsonl_transcripts(spark, tmp_path):
    """JSONL turn source: explicit schema, corrupt/unusable-line exclusion,
    ''-normalized text, TZ-proof ts, and the output canonicalizes."""
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.normalizer import read_jsonl_transcripts

    lines = [
        json.dumps({"conv_id": "c1", "turn_idx": 0, "role": "user",
                    "text": "hello there", "tool": None,
                    "ts": "2026-04-21T12:40:56"}),
        json.dumps({"conv_id": "c1", "turn_idx": 1, "role": "assistant",
                    "text": None, "tool": "search",
                    "ts": "2026-04-21T12:41:26"}),
        json.dumps({"conv_id": "c2", "turn_idx": 0, "role": "user",
                    "text": "bye"}),                      # missing tool/ts: fine
        json.dumps({"role": "user", "text": "orphan"}),   # no conv_id/turn_idx: dropped
        '{"conv_id": "c3", "turn_idx": 0, "text": "unterminated',  # malformed: dropped
    ]
    p = tmp_path / "turns.jsonl"
    p.write_text("\n".join(lines) + "\n")

    df = read_jsonl_transcripts(spark, str(p))
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    rows = {(r["conv_id"], r["turn_idx"]): r for r in df.collect()}
    assert set(rows) == {("c1", 0), ("c1", 1), ("c2", 0)}
    assert rows[("c1", 1)]["text"] == ""  # null text → '' contract
    assert rows[("c1", 0)]["ts"].isoformat() == "2026-04-21T12:40:56"
    assert canonicalize(df).count() == 2  # feeds ordered turn aggregation

    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError):
        read_jsonl_transcripts(spark, str(p), strict=True).collect()


def test_column_intersection(spark):
    from ertransfer_spark.sources.normalizer import column_intersection

    a = spark.createDataFrame([(1, "x", "y")], "id long, name string, extra_a string")
    b = spark.createDataFrame([(2, "z", "w")], "id long, name string, extra_b string")
    ia, ib = column_intersection(a, b)
    assert ia.columns == ["id", "name"] and ib.columns == ["id", "name"]


def test_negative_sampling(spark):
    from ertransfer_spark.operators.labeling import all_negative_pairs, sample_negative_pairs

    ra = spark.createDataFrame([(f"a{i}",) for i in range(10)], "conv_id string")
    rb = spark.createDataFrame([(f"b{i}",) for i in range(10)], "conv_id string")
    matches = spark.createDataFrame([("a0", "b0"), ("a1", "b1")], "a_id string, b_id string")

    allneg = all_negative_pairs(ra, rb, matches)
    assert allneg.count() == 98  # 100 - 2 golden
    assert allneg.filter((F.col("a_id") == "a0") & (F.col("b_id") == "b0")).count() == 0

    s1 = sample_negative_pairs(ra, rb, matches, n=5, seed=7).collect()
    s2 = sample_negative_pairs(ra, rb, matches, n=5, seed=7).collect()
    assert len(s1) == 5
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # deterministic
    golden = {("a0", "b0"), ("a1", "b1")}
    assert not golden & {tuple(r) for r in s1}


def test_matcher_impute_standardize_and_kmeans(spark):
    from ertransfer_spark.operators.matcher import FEATURES, kmeans_probs, score, train_matcher

    import random

    rng = random.Random(0)
    rows = []
    for i in range(60):
        label = i % 2
        base = 0.8 if label else 0.2
        rows.append(
            tuple([f"a{i}", f"b{i}", label] + [base + rng.uniform(-0.1, 0.1) for _ in FEATURES])
        )
    schema = "a_id string, b_id string, label int, " + ", ".join(f"{f} double" for f in FEATURES)
    train = spark.createDataFrame(rows, schema)
    model = train_matcher(train, impute=True, standardize=True)
    preds = score(model, train)
    from ertransfer_spark.operators.matcher import evaluate_predictions

    assert evaluate_predictions(preds)["f1"] > 0.95

    km = kmeans_probs(preds, k=2)
    assert set(km.select("kmeans_cluster").distinct().toPandas()["kmeans_cluster"]) == {0, 1}


def test_stream_matches_batch_canonicalization(spark, tmp_path):
    """Per-turn equality invariant across the stream and batch paths: the
    streamed canonicalization of a drained source equals the batch one."""
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.streaming.ingest import (
        canonicalize_stream,
        read_turn_stream,
        stream_to_catalog,
    )
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    ta, _, _ = generate(SynthConfig(n_conversations=20, seed=11))
    src = tmp_path / "turns"
    src.mkdir()
    with open(src / "part-0.json", "w") as f:
        for r in ta.to_dict("records"):
            r["ts"] = r["ts"].isoformat()
            f.write(json.dumps(r) + "\n")

    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
    stream = canonicalize_stream(read_turn_stream(spark, str(src)))
    q = stream_to_catalog(stream, catalog, checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(900), 'stream drain timed out (box under load)'

    got = catalog.read("stream_records_batch_00000").select("conv_id", "agValue").toPandas()
    want = canonicalize(to_spark(spark, ta)).select("conv_id", "agValue").toPandas()
    g = dict(zip(got["conv_id"], got["agValue"]))
    w = dict(zip(want["conv_id"], want["agValue"]))
    assert g == w
    # the lineage row carries the rows the batch's snapshot holds
    lin = catalog.lineage().toPandas().set_index("stage")
    assert lin.loc["stream_records_batch_00000", "candidate_count"] == len(got)


def _write_batch(src, name, pdf):
    import json as _json

    with open(src / name, "w") as f:
        for r in pdf.to_dict("records"):
            r["ts"] = r["ts"].isoformat()
            f.write(_json.dumps(r) + "\n")


def _drain_dedup(spark, src, catalog, ckpt, min_jaccard=0.3):
    from ertransfer_spark.streaming.ingest import incremental_dedup_stream, read_turn_stream

    q = incremental_dedup_stream(
        read_turn_stream(spark, str(src), max_files_per_trigger=1),
        catalog,
        min_jaccard=min_jaccard,
        checkpoint_dir=str(ckpt),
    )
    assert q.awaitTermination(900), 'stream drain timed out (box under load)'


def _all_dup_pairs(catalog, n_batches):
    found = set()
    for b in range(n_batches):
        for r in catalog.read(f"dup_pairs_batch_{b:05d}").collect():
            found.add((r["a_id"], r["b_id"]))
    return found


def test_incremental_dedup_stream(spark, tmp_path):
    """Two micro-batches: batch 2 contains a near-copy of a batch-1
    conversation — the streamed dedup must flag the cross-batch pair, the
    union of per-batch outputs must equal the batch-mode run on the final
    corpus, and corpus commits must be append-only deltas."""
    from ertransfer_spark.operators.blocking import minhash_lsh_join
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    ta, tb, matches = generate(SynthConfig(n_conversations=12, match_fraction=0.99, seed=3))
    src = tmp_path / "turns"
    src.mkdir()

    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
    _write_batch(src, "b1.json", ta)
    _drain_dedup(spark, src, catalog, tmp_path / "ck1")
    snap0_files = sorted(
        (p.name, p.stat().st_mtime)
        for p in (tmp_path / "cat" / "corpus_records" / "snap-00000").iterdir()
    )
    _write_batch(src, "b2.json", tb)
    _drain_dedup(spark, src, catalog, tmp_path / "ck1")

    corpus = catalog.read("corpus_records")
    assert corpus.count() == len(set(ta["conv_id"])) + len(set(tb["conv_id"]))

    # append-only: batch 2 did NOT rewrite batch 1's snapshot files, and its
    # own delta contains exactly the batch-2 records
    assert sorted(
        (p.name, p.stat().st_mtime)
        for p in (tmp_path / "cat" / "corpus_records" / "snap-00000").iterdir()
    ) == snap0_files
    delta = catalog.read("corpus_records", snapshot="snap-00001")
    assert set(r["conv_id"] for r in delta.select("conv_id").collect()) == set(tb["conv_id"])

    # each batch's lineage row carries the rows its commits wrote
    lin = catalog.lineage().toPandas().set_index("stage")
    for b in range(2):
        row = lin.loc[f"dup_pairs_batch_{b:05d}"]
        snap = catalog.read("corpus_records", snapshot=f"snap-{b:05d}")
        assert row["candidate_count"] == snap.count()
        assert row["matches"] == catalog.read(f"dup_pairs_batch_{b:05d}").count()

    found = _all_dup_pairs(catalog, 2)
    golden = {(a, b) for a, b in zip(matches["a_conv_id"], matches["b_conv_id"])}
    assert len(found & golden) >= len(golden) * 0.7, (len(found & golden), len(golden))

    # exact parity with the batch-mode operator on the final corpus
    full = canonicalize(
        to_spark(spark, __import__("pandas").concat([ta, tb], ignore_index=True))
    )
    batch_pairs = minhash_lsh_join(
        full, full, id_col="conv_id", tokens_col="shingle_set",
        min_jaccard=0.3, self_join=True,
    )
    want = {(r["a_id"], r["b_id"]) for r in batch_pairs.collect()}
    assert found == want


def test_incremental_dedup_bucket_pruning(spark, tmp_path):
    """The streaming verify's corpus lookup must be partition-pruned: corpus
    commits are hive-partitioned by _bucket=pmod(xxhash64(conv_id), B), and
    a read_buckets point lookup scans ONLY those buckets' files — per-batch
    verify I/O scales with the candidate set, not the corpus."""
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.synth import SynthConfig, generate

    ta, tb, _ = generate(SynthConfig(n_conversations=24, match_fraction=0.5, seed=9))
    src = tmp_path / "turns"
    src.mkdir()
    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
    _write_batch(src, "b1.json", ta)
    _drain_dedup(spark, src, catalog, tmp_path / "ck1")
    _write_batch(src, "b2.json", tb)
    _drain_dedup(spark, src, catalog, tmp_path / "ck1")

    # corpus snapshots are bucket-partitioned
    snap0 = tmp_path / "cat" / "corpus_records" / "snap-00000"
    assert any(p.name.startswith("_bucket=") for p in snap0.iterdir())

    full_files = set(catalog.read("corpus_records").inputFiles())
    # a single-bucket point read touches ONLY that bucket's files …
    some_bucket = int(
        next(p.name for p in snap0.iterdir() if p.name.startswith("_bucket=")).split("=")[1]
    )
    pruned = catalog.read_buckets("corpus_records", [some_bucket])
    pruned_files = set(pruned.inputFiles())
    assert pruned_files and pruned_files < full_files
    assert all(f"_bucket={some_bucket}/" in f for f in pruned_files)

    # … and the union over all buckets is exactly the full corpus
    all_buckets = sorted(
        {
            int(p.name.split("=")[1])
            for snap in (tmp_path / "cat" / "corpus_records").iterdir()
            if snap.name.startswith("snap-")
            for p in snap.iterdir()
            if p.name.startswith("_bucket=")
        }
    )
    union_ids = {
        r["conv_id"]
        for r in catalog.read_buckets("corpus_records", all_buckets)
        .select("conv_id").collect()
    }
    full_ids = {r["conv_id"] for r in catalog.read("corpus_records").select("conv_id").collect()}
    assert union_ids == full_ids

    # missing-bucket point read: empty frame, no crash, data schema intact
    empty = catalog.read_buckets("corpus_records", [10**6])
    assert empty.count() == 0 and "conv_id" in empty.columns


def test_incremental_dedup_cross_batch_orientation(spark, tmp_path):
    """Adversarial id order: the EXISTING record's id sorts AFTER the new
    record's id (B-side ingested first, A-side second). A join-output
    a_id < b_id filter would silently drop every such cross-batch pair —
    the canonical least/greatest orientation must keep them."""
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.synth import SynthConfig, generate

    ta, tb, matches = generate(SynthConfig(n_conversations=10, match_fraction=0.99, seed=5))
    src = tmp_path / "turns"
    src.mkdir()
    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
    # batch 1 = B side ('b_*' ids), batch 2 = A side ('a_*' ids): every
    # cross-batch dup has existing id > new id
    _write_batch(src, "b1.json", tb)
    _drain_dedup(spark, src, catalog, tmp_path / "ck1")
    _write_batch(src, "b2.json", ta)
    _drain_dedup(spark, src, catalog, tmp_path / "ck1")

    found = _all_dup_pairs(catalog, 2)
    golden = {(a, b) for a, b in zip(matches["a_conv_id"], matches["b_conv_id"])}
    assert len(found & golden) >= len(golden) * 0.7, (len(found & golden), len(golden))


def test_stateful_canonicalize_cross_batch(spark, tmp_path):
    """A conversation whose turns SPAN micro-batches must come out as ONE
    canonical record, byte-identical to batch canonicalize over the full
    turn set — the applyInPandasWithState session-gap operator. Watermark
    mechanics: two far-future sentinel files push the event-time watermark
    past every real conversation's (last_ts + gap) so the timeouts fire
    within the availableNow drain."""
    import pandas as pd

    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.streaming.ingest import (
        read_turn_stream,
        stateful_canonicalize_to_catalog,
    )
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    ta, _, _ = generate(SynthConfig(n_conversations=10, seed=11))
    # split every conversation's turns across two files (odd/even turn_idx)
    part1 = ta[ta["turn_idx"] % 2 == 0].reset_index(drop=True)
    part2 = ta[ta["turn_idx"] % 2 == 1].reset_index(drop=True)
    src = tmp_path / "turns"
    src.mkdir()
    _write_batch(src, "b1.json", part1)
    _write_batch(src, "b2.json", part2)
    t_hi = ta["ts"].max()
    for i, name in enumerate(["s1.json", "s2.json"]):
        sent = pd.DataFrame(
            [
                {
                    "conv_id": f"zz_sentinel_{i}",
                    "turn_idx": 0,
                    "role": "user",
                    "text": "flush",
                    "tool": "",
                    "ts": t_hi + pd.Timedelta(hours=1 + i),
                }
            ]
        )
        _write_batch(src, name, sent)

    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
    q = stateful_canonicalize_to_catalog(
        read_turn_stream(spark, str(src), max_files_per_trigger=1),
        catalog,
        checkpoint_dir=str(tmp_path / "ck"),
        watermark="1 minutes",
        gap_seconds=60,
    )
    assert q.awaitTermination(900), 'stream drain timed out (box under load)'

    got = {
        r["conv_id"]: (r["agValue"], r["n_turns"])
        for r in catalog.read("stream_canonical").collect()
        if not r["conv_id"].startswith("zz_sentinel")
    }
    want = {
        r["conv_id"]: (r["agValue"], r["n_turns"])
        for r in canonicalize(to_spark(spark, ta)).select(
            "conv_id", "agValue", "n_turns"
        ).collect()
    }
    assert got == want  # every conversation closed exactly once, value-identical


def test_stateful_canonicalize_survives_restart(spark, tmp_path):
    """Group state must persist across QUERY RESTARTS: run 1 ingests half
    of every conversation and stops (availableNow drain); run 2, started
    from the same checkpoint dir, ingests the rest plus the watermark
    sentinels. Conversations spanning the two runs must still close
    exactly once with the full turn set — the state-store recovery
    contract a production stream relies on."""
    import pandas as pd

    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.streaming.ingest import (
        read_turn_stream,
        stateful_canonicalize_to_catalog,
    )
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    ta, _, _ = generate(SynthConfig(n_conversations=8, seed=13))
    # compress event time so NO conversation's gap elapses between the two
    # runs: closing a quiet conversation at the end of run 1 would be
    # CORRECT session-gap semantics (verified: the uncompressed corpus
    # spans hours and early conversations rightly closed half-full) — but
    # this test is about state surviving the restart, so every turn must
    # sit within one gap of the others in event time
    ta["ts"] = pd.Timestamp("2026-01-01 12:00:00") + pd.to_timedelta(
        ta["turn_idx"], unit="s"
    )
    src = tmp_path / "turns"
    src.mkdir()
    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))

    def drain():
        q = stateful_canonicalize_to_catalog(
            read_turn_stream(spark, str(src), max_files_per_trigger=1),
            catalog,
            checkpoint_dir=str(tmp_path / "ck"),
            watermark="1 minutes",
            gap_seconds=60,
        )
        assert q.awaitTermination(900), 'stream drain timed out (box under load)'

    _write_batch(src, "b1.json", ta[ta["turn_idx"] % 2 == 0].reset_index(drop=True))
    drain()  # run 1: half of every conversation, then the query STOPS
    _write_batch(src, "b2.json", ta[ta["turn_idx"] % 2 == 1].reset_index(drop=True))
    t_hi = ta["ts"].max()
    for i, name in enumerate(["s1.json", "s2.json"]):
        _write_batch(
            src,
            name,
            pd.DataFrame(
                [
                    {
                        "conv_id": f"zz_sentinel_{i}",
                        "turn_idx": 0,
                        "role": "user",
                        "text": "flush",
                        "tool": "",
                        "ts": t_hi + pd.Timedelta(hours=1 + i),
                    }
                ]
            ),
        )
    drain()  # run 2: recovered state + remaining turns + sentinels

    got = {
        r["conv_id"]: (r["agValue"], r["n_turns"])
        for r in catalog.read("stream_canonical").collect()
        if not r["conv_id"].startswith("zz_sentinel")
    }
    want = {
        r["conv_id"]: (r["agValue"], r["n_turns"])
        for r in canonicalize(to_spark(spark, ta)).select(
            "conv_id", "agValue", "n_turns"
        ).collect()
    }
    assert got == want


def test_stateful_canonicalize_non_utc_session_timezone(spark, tmp_path):
    """The session-gap timeout must be computed in UTC epoch millis no
    matter the session timezone: under Asia/Tokyo (+9h) a pandas-side
    tz-naive max(ts) would sit 9h AHEAD of getCurrentWatermarkMs, pushing
    every close 9h late — the sentinel watermark (1h ahead) would then
    close nothing and this test would see zero records."""
    import pandas as pd

    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.streaming.ingest import (
        read_turn_stream,
        stateful_canonicalize_to_catalog,
    )
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        ta, _, _ = generate(SynthConfig(n_conversations=6, seed=17))
        ta["ts"] = pd.Timestamp("2026-01-01 12:00:00") + pd.to_timedelta(
            ta["turn_idx"], unit="s"
        )
        src = tmp_path / "turns"
        src.mkdir()
        _write_batch(src, "b1.json", ta)
        t_hi = ta["ts"].max()
        for i, name in enumerate(["s1.json", "s2.json"]):
            _write_batch(
                src,
                name,
                pd.DataFrame(
                    [
                        {
                            "conv_id": f"zz_sentinel_{i}",
                            "turn_idx": 0,
                            "role": "user",
                            "text": "flush",
                            "tool": "",
                            "ts": t_hi + pd.Timedelta(hours=1 + i),
                        }
                    ]
                ),
            )
        catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
        q = stateful_canonicalize_to_catalog(
            read_turn_stream(spark, str(src), max_files_per_trigger=1),
            catalog,
            checkpoint_dir=str(tmp_path / "ck"),
            watermark="1 minutes",
            gap_seconds=60,
        )
        assert q.awaitTermination(900), 'stream drain timed out (box under load)'
        got = {
            r["conv_id"]: (r["agValue"], r["n_turns"])
            for r in catalog.read("stream_canonical").collect()
            if not r["conv_id"].startswith("zz_sentinel")
        }
        want = {
            r["conv_id"]: (r["agValue"], r["n_turns"])
            for r in canonicalize(to_spark(spark, ta)).select(
                "conv_id", "agValue", "n_turns"
            ).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stateful_canonicalize_dedups_retransmitted_turns(spark, tmp_path):
    """At-least-once delivery: a turn retransmitted in a later micro-batch
    must not double-count n_turns or duplicate text in agValue — the
    stateful path keeps the first arrival per (conv_id, turn_idx), the same
    contract as canonicalize_stream's dropDuplicates."""
    import pandas as pd

    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.sources.catalog import SnapshotCatalog
    from ertransfer_spark.streaming.ingest import (
        read_turn_stream,
        stateful_canonicalize_to_catalog,
    )
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    ta, _, _ = generate(SynthConfig(n_conversations=6, seed=19))
    ta["ts"] = pd.Timestamp("2026-01-01 12:00:00") + pd.to_timedelta(
        ta["turn_idx"], unit="s"
    )
    src = tmp_path / "turns"
    src.mkdir()
    _write_batch(src, "b1.json", ta)
    # batch 2 retransmits every even turn (same conv_id/turn_idx/content)
    _write_batch(src, "b2.json", ta[ta["turn_idx"] % 2 == 0].reset_index(drop=True))
    t_hi = ta["ts"].max()
    for i, name in enumerate(["s1.json", "s2.json"]):
        _write_batch(
            src,
            name,
            pd.DataFrame(
                [
                    {
                        "conv_id": f"zz_sentinel_{i}",
                        "turn_idx": 0,
                        "role": "user",
                        "text": "flush",
                        "tool": "",
                        "ts": t_hi + pd.Timedelta(hours=1 + i),
                    }
                ]
            ),
        )
    catalog = SnapshotCatalog(spark, str(tmp_path / "cat"))
    q = stateful_canonicalize_to_catalog(
        read_turn_stream(spark, str(src), max_files_per_trigger=1),
        catalog,
        checkpoint_dir=str(tmp_path / "ck"),
        watermark="1 minutes",
        gap_seconds=60,
    )
    assert q.awaitTermination(900), 'stream drain timed out (box under load)'
    got = {
        r["conv_id"]: (r["agValue"], r["n_turns"])
        for r in catalog.read("stream_canonical").collect()
        if not r["conv_id"].startswith("zz_sentinel")
    }
    want = {
        r["conv_id"]: (r["agValue"], r["n_turns"])
        for r in canonicalize(to_spark(spark, ta)).select(
            "conv_id", "agValue", "n_turns"
        ).collect()
    }
    assert got == want
