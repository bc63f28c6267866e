"""CLI curate subcommand: pipeline composition, stats, and written output."""

import argparse
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from web2llmstxt_spark.cli import run_curate


def _args(tmp_path, in_path, **over):
    d = dict(in_parquet=in_path, out=str(tmp_path / "curated"),
             text_col="text", id_col="doc_id", bench_parquet=None,
             no_repetition_gate=False, no_pii_scrub=False,
             no_substring_scrub=False, no_exact_dedup=False)
    d.update(over)
    return argparse.Namespace(**d)


def _write_docs(spark, tmp_path, rows):
    p = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, "doc_id int, text string").write.parquet(p)
    return p


def test_curate_pipeline_stats_and_output(spark, tmp_path):
    uniq = ("the quick brown fox number %d jumped over one lazy dog near "
            "river bank %d today with fresh morning air around")
    rows = [(i, uniq % (i, i * 7)) for i in range(6)]
    rows += [(10, "spam spam spam spam spam spam spam spam")]       # repetition gate
    rows += [(11, rows[0][1]), (12, rows[0][1])]                    # exact dups of 0
    p = _write_docs(spark, tmp_path, rows)
    stats = run_curate(spark, _args(tmp_path, p))
    assert stats["in_docs"] == 9
    assert stats["dropped_repetition"] == 1                          # doc 10
    # docs 0/11/12 identical: substring scrub empties all three (cross-doc
    # dup windows cover them), then exact dedup keeps one of the empties
    assert stats["dedup_removed"] == 2
    assert stats["kept_docs"] == 6
    out = {r.doc_id for r in spark.read.parquet(str(tmp_path / "curated")).collect()}
    assert 10 not in out and len(out) == 6


def test_curate_decontamination_gate(spark, tmp_path):
    base = ("completely distinct words appear here item %d plus extra tail "
            "segment %d closing out this sentence nicely and cleanly")
    rows = [(i, base % (i, i)) for i in range(4)]
    p = _write_docs(spark, tmp_path, rows)
    # eval set shares doc 0's exact text -> doc 0 is contaminated
    bench = str(tmp_path / "bench_in")
    spark.createDataFrame([(100, rows[0][1])], "doc_id int, text string") \
        .write.parquet(bench)
    stats = run_curate(spark, _args(
        tmp_path, p, bench_parquet=bench,
        no_repetition_gate=True, no_substring_scrub=True, no_exact_dedup=True))
    assert stats["dropped_contaminated"] == 1
    out = {r.doc_id for r in spark.read.parquet(str(tmp_path / "curated")).collect()}
    assert out == {1, 2, 3}


def test_curate_flags_disable_stages(spark, tmp_path):
    rows = [(1, "alpha bravo contact me at bob@example.com for details today"),
            (2, "alpha bravo contact me at bob@example.com for details today")]
    p = _write_docs(spark, tmp_path, rows)
    stats = run_curate(spark, _args(
        tmp_path, p, no_repetition_gate=True, no_pii_scrub=True,
        no_substring_scrub=True, no_exact_dedup=True))
    assert stats == {"in_docs": 2, "kept_docs": 2, "out": str(tmp_path / "curated")}
    texts = {r.text for r in spark.read.parquet(str(tmp_path / "curated")).collect()}
    assert texts == {rows[0][1]}  # untouched, PII intact, dups kept


def test_curate_pack_out_writes_training_shards(spark, tmp_path):
    """--pack-out: packed shards land partitioned by shard_id, the in-shard
    (bin_id, bin_offset) replay is stream-ordered, and token accounting is
    exact (sum n_tokens == last stream_offset + its n_tokens)."""
    rows = [(i, f"tok{i} " * (5 + i % 4)) for i in range(40)]
    p = _write_docs(spark, tmp_path, rows)
    args = _args(tmp_path, p, no_repetition_gate=True, no_pii_scrub=True,
                 no_substring_scrub=True, no_exact_dedup=True,
                 pack_out=str(tmp_path / "shards"), pack_budget=16,
                 bins_per_shard=4)
    stats = run_curate(spark, args)
    pk = stats["pack"]
    assert pk["docs"] == 40
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert "shard_id" in back.columns
    got = back.orderBy("shard_id", "bin_id", "bin_offset").collect()
    # shard boundaries are bin boundaries; bins map to their shard
    assert all(r.bin_id // 4 == r.shard_id for r in got)
    # stream order: offsets strictly increase along the replay order
    offs = [r.stream_offset for r in got]
    assert offs == sorted(offs) and len(set(offs)) == len(offs)
    assert pk["tokens"] == got[-1].stream_offset + got[-1].n_tokens
    assert pk["shards"] >= 2  # the tiny budget actually sharded


def test_curate_releases_caches_and_rereads_rewritten_input(spark, tmp_path, persisted):
    """Every cache run_curate creates is released on return, so a second
    call on the same path reads the rewritten file, not a cache of the
    first one. The file is rewritten outside Spark, as an upstream job
    would: a Spark write to the path would itself refresh the caches."""
    p = str(tmp_path / "docs_in")
    os.makedirs(p)
    first = [(i, f"alpha bravo charlie item {i} delta echo foxtrot golf") for i in range(5)]
    second = [(i, f"hotel india juliet item {i} kilo lima mike november")
              for i in range(100, 108)]
    second += [(200, "spam spam spam spam spam spam spam spam")]
    got = []
    for rows in (first, second):
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                                 "text": [r[1] for r in rows]}),
                       os.path.join(p, "part-0.parquet"))
        before = persisted()
        args = _args(tmp_path, p, pack_out=str(tmp_path / "shards"),
                     pack_budget=8, bins_per_shard=2)
        got.append(run_curate(spark, args))
        assert persisted() <= before  # nothing the call persisted remains
    assert got[0]["in_docs"] == 5 and got[0]["dropped_repetition"] == 0
    assert got[1]["in_docs"] == 9 and got[1]["dropped_repetition"] == 1
    assert got[1]["kept_docs"] == got[1]["pack"]["docs"] == 8
    out = {r.doc_id for r in spark.read.parquet(str(tmp_path / "curated")).collect()}
    assert out == set(range(100, 108))


def test_curate_invariant_under_input_partitioning(spark, tmp_path):
    """One parquet file, or several files in shuffled doc_id order: every
    stage and the packing give identical stats and an identical corpus."""
    rng = random.Random(5)
    vocab = [f"w{k}" for k in range(300)]
    footer = " ".join(rng.choice(vocab) for _ in range(12))
    evals = [" ".join(rng.choice(vocab) for _ in range(30)) for _ in range(3)]
    rows = []
    for i in range(60):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 50)))
        if i % 10 == 0:
            body = "same old words " * 6
        elif i % 10 == 1:
            body += " " + evals[i % 3]
        elif i % 10 == 2:
            body += f" mail user{i}@example.org now"
        elif i % 10 in (3, 4):
            body += " " + footer
        elif i % 10 == 5:
            body = rows[i - 2][1]
        rows.append((i, body))
    bench = str(tmp_path / "bench_in")
    spark.createDataFrame(list(enumerate(evals, start=1000)), "doc_id int, text string") \
        .write.parquet(bench)

    one = str(tmp_path / "one")
    spark.createDataFrame(rows, "doc_id int, text string").coalesce(1).write.parquet(one)
    many = str(tmp_path / "many")
    shuffled = rows[:]
    rng.shuffle(shuffled)
    spark.createDataFrame(shuffled, "doc_id int, text string").repartition(5) \
        .write.parquet(many)
    assert len([f for f in os.listdir(many) if f.endswith(".parquet")]) > 1

    results = []
    for name, path in (("one", one), ("many", many)):
        args = _args(tmp_path / name, path, bench_parquet=bench,
                     pack_out=str(tmp_path / name / "shards"), pack_budget=64,
                     bins_per_shard=3)
        stats = run_curate(spark, args)
        stats.pop("out")
        stats["pack"].pop("out")
        corpus = {(r.doc_id, r.text) for r in spark.read.parquet(args.out).collect()}
        results.append((stats, corpus))
    (st1, c1), (st2, c2) = results
    assert st1 == st2
    assert c1 == c2
    assert all(st1[k] > 0 for k in ("dropped_repetition", "dropped_contaminated",
                                     "tokens_removed", "dedup_removed"))
    assert st1["pack"]["shards"] >= 2
