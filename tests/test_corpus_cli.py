"""The `corpus` CLI journey: JSONL in -> PII scrub -> quality gate ->
exact dedup -> hash split -> partitioned parquet out, with quarantine
and dedup visible in the accounting."""

from __future__ import annotations

import json

from polygon_io_data_ingestion_pipeline_spark.cli import main


GOOD = (
    "the data in a table is the value of the row and the key for the "
    "batch while the line in a window is the part of the sort"
)


def _line(doc_id, text, source="srcA"):
    return json.dumps(
        {"doc_id": doc_id, "text": text, "lang": "en", "source": source, "n_chars": len(text)}
    )


def test_corpus_cli_end_to_end(spark, tmp_path, capsys):
    src = tmp_path / "in"
    src.mkdir()
    lines = [
        _line(1, GOOD),
        _line(2, GOOD),  # exact duplicate of 1 -> deduped, rep is min id
        _line(3, GOOD + " reach me at spam@example.com today"),  # PII, still good
        _line(4, "short junk"),  # fails the length gate
        "{broken line",  # quarantined
    ]
    (src / "docs.jsonl").write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "out")

    rc = main(["corpus", "--src", str(src), "--out", out, "--redact-pii"])
    assert rc == 0
    msg = capsys.readouterr().out
    assert "read=4" in msg and "quarantined=1" in msg and "unique_kept=2" in msg

    result = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in result.collect()}
    # Dup class {1,2} keeps the min id; junk and the broken line are gone.
    assert set(rows) == {1, 3}
    assert "spam@example.com" not in rows[3]["text"]
    assert "<EMAIL>" in rows[3]["text"]
    # Split column materialized and partition-pruned on disk.
    assert set(result.select("split").distinct().toPandas()["split"]) <= {"train", "val", "test"}


def test_datasheet_cli(spark, tmp_path, capsys):
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "docs.jsonl", "w") as fh:
        fh.write("\n".join([_line(1, GOOD), _line(2, GOOD), _line(3, "junk")]) + "\n")
    out = str(tmp_path / "sheet")
    rc = main(["datasheet", "--src", str(src), "--out", out])
    assert rc == 0
    printed = capsys.readouterr().out
    got = dict(
        line.split("\t") for line in printed.strip().splitlines() if "\t" in line
    )
    assert float(got["n_docs"]) == 3.0
    assert float(got["exact_dup_rate"]) == round(1 - 2 / 3, 6)
    # CSV artifact written and re-readable
    sheet = spark.read.option("header", True).csv(out)
    assert sheet.count() == len(got)


def test_search_cli(spark, tmp_path, capsys):
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    docs = str(tmp_path / "docs.parquet")
    rows = [
        (1, "spark shuffle stream spark shuffle stream spark"),
        (2, "totally unrelated words about other things entirely"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs)
    for mode in ("bm25", "dense", "hybrid"):
        assert main(["search", "--docs", docs, "--query", "spark shuffle stream",
                     "--k", "2", "--mode", mode, "--master", "local[4]"]) == 0
        lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
        assert lines and lines[0].split("\t")[0] == "1", mode


def test_rollup_cli(spark, tmp_path, capsys):
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src1, src2, out = (str(tmp_path / d) for d in ("s1", "s2", "roll"))
    spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double").write.parquet(src1)
    spark.createDataFrame([("a", 3.0)], "k string, v double").write.parquet(src2)
    base = ["rollup", "--out", out, "--keys", "k", "--sum", "v", "--master", "local[4]"]
    assert main(base + ["--src", src1, "--shard-id", "s1"]) == 0
    assert main(base + ["--src", src2, "--shard-id", "s2"]) == 0
    # replay no-op
    assert main(base + ["--src", src2, "--shard-id", "s2"]) == 0
    capsys.readouterr()
    assert main(base + ["--show"]) == 0
    lines = dict(
        (ln.split("\t")[0], ln.split("\t"))
        for ln in capsys.readouterr().out.splitlines()
        if ln.strip()
    )
    assert lines["a"][1:] == ["2", "4.0"] and lines["b"][1:] == ["1", "2.0"]


def test_rollup_cli_full_cell_family(spark, tmp_path, capsys):
    """The CLI exposes every mergeable cell family; one update + show
    roundtrip proves the flag plumbing (semantics live in test_rollup)."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src, out = (str(tmp_path / d) for d in ("s1", "roll"))
    spark.createDataFrame(
        [("a", 1, 1.0, "x"), ("a", 2, 3.0, "x"), ("a", 3, 9.0, "y")],
        "k string, id long, v double, item string",
    ).write.parquet(src)
    assert main([
        "rollup", "--out", out, "--keys", "k", "--sum", "v",
        "--min", "v", "--max", "v", "--distinct", "item",
        "--hist", "v:0:10:5", "--sample", "v:id:2", "--topk", "item:4",
        "--src", src, "--shard-id", "s1", "--master", "local[4]",
    ]) == 0
    capsys.readouterr()
    assert main(["rollup", "--out", out, "--keys", "k", "--sum", "v",
                 "--show", "--master", "local[4]"]) == 0
    row = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()][0]
    fields = row.split("\t")
    assert fields[0] == "a" and fields[1] == "3"  # key, n_rows
    from polygon_io_data_ingestion_pipeline_spark.operators.rollup import read_rollup

    r = read_rollup(spark, out).collect()[0]
    assert r["sum_v"] == 13.0 and r["min_v"] == 1.0 and r["max_v"] == 9.0
    assert list(r["hist_v"]) == [1, 1, 0, 0, 1]  # width 2: 1.0->b0, 3.0->b1, 9.0->b4
    assert len(r["smp_v"]) == 2
    assert {s["item"] for s in r["topk_item"]["items"]} == {"x", "y"}
    assert r["distinct_item"] == 2


def test_rollup_cli_quantile_and_drift(spark, tmp_path, capsys):
    """--quantile reads out of hist/sample cells by spec introspection;
    --drift prints the version-to-version PSI row."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    s1, s2, out = (str(tmp_path / d) for d in ("s1", "s2", "roll"))
    spark.createDataFrame(
        [("a", i, i / 10.0) for i in range(100)], "k string, id long, v double"
    ).write.parquet(s1)
    spark.createDataFrame(
        [("a", 100 + i, 9.0 + i / 100.0) for i in range(50)],
        "k string, id long, v double",
    ).write.parquet(s2)
    base = [
        "rollup", "--out", out, "--keys", "k", "--sum", "v",
        "--hist", "v:0:10:20", "--sample", "v:id:32", "--master", "local[4]",
    ]
    assert main(base + ["--src", s1, "--shard-id", "s1"]) == 0
    assert main(base + ["--src", s2, "--shard-id", "s2"]) == 0
    capsys.readouterr()
    assert main([
        "rollup", "--out", out, "--keys", "k", "--show",
        "--quantile", "v:0.5", "--master", "local[4]",
    ]) == 0
    row = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()][0]
    p50 = float(row.split("\t")[-1])
    assert 0.0 < p50 < 10.0
    # unknown cell -> error exit
    assert main([
        "rollup", "--out", out, "--keys", "k", "--show",
        "--quantile", "nope:0.5", "--master", "local[4]",
    ]) == 2
    capsys.readouterr()
    assert main(["rollup", "--out", out, "--keys", "k", "--drift", "v",
                 "--master", "local[4]"]) == 0
    fields = capsys.readouterr().out.split("\t")
    assert fields[0] == "hist_v_delta" and fields[-1].strip() == "1"  # drifted


def test_rollup_cli_flag_validation(spark, tmp_path, capsys):
    """Typo inputs on --quantile/--drift exit 2 with a message, never a
    traceback: missing :P, non-numeric or out-of-range P, drift on a
    cell-less column, drift with a single committed version."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src, out = (str(tmp_path / d) for d in ("s1", "roll"))
    spark.createDataFrame(
        [("a", 1, 1.0)], "k string, id long, v double"
    ).write.parquet(src)
    assert main([
        "rollup", "--out", out, "--keys", "k", "--sum", "v",
        "--hist", "v:0:10:5", "--src", src, "--shard-id", "s1",
        "--master", "local[4]",
    ]) == 0
    show = ["rollup", "--out", out, "--keys", "k", "--show", "--master", "local[4]"]
    for bad in ("v", "v:0.5x", "v:1.5", ":0.5"):
        assert main(show + ["--quantile", bad]) == 2, bad
    base = ["rollup", "--out", out, "--keys", "k", "--master", "local[4]"]
    assert main(base + ["--drift", "nope"]) == 2  # no hist cell
    assert main(base + ["--drift", "v"]) == 2  # only one committed version


def test_rollup_cli_malformed_cell_specs_exit_2(spark, tmp_path, capsys):
    """Wrong-arity --hist/--sample/--topk specs get the clean exit-code-2
    usage message every other cmd_rollup argument error gets, not a bare
    ValueError traceback (round-8 advice finding)."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src, out = (str(tmp_path / d) for d in ("msrc", "mroll"))
    spark.createDataFrame([("a", 1.0)], "k string, v double").write.parquet(src)
    base = ["rollup", "--out", out, "--keys", "k", "--sum", "v",
            "--src", src, "--shard-id", "s1", "--master", "local[4]"]
    for flag, bad in (("--hist", "v:0:400"),        # missing bins
                      ("--sample", "v:2"),          # missing id_col
                      ("--topk", "item:4:9")):      # extra field
        assert main(base + [flag, bad]) == 2
        assert "expected" in capsys.readouterr().err


def test_rollup_cli_cube_flag(spark, tmp_path, capsys):
    from polygon_io_data_ingestion_pipeline_spark.cli import main
    from polygon_io_data_ingestion_pipeline_spark.operators.rollup import (
        read_rollup,
    )

    src, out = (str(tmp_path / d) for d in ("csrc", "croll"))
    spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 3.0), ("b", "x", 9.0)],
        "k string, g string, v double",
    ).write.parquet(src)
    assert main([
        "rollup", "--out", out, "--keys", "k,g", "--sum", "v", "--cube",
        "--src", src, "--shard-id", "s1", "--master", "local[4]",
    ]) == 0
    rows = {(r["_gid"], r["k"], r["g"]): r for r in read_rollup(spark, out).collect()}
    assert rows[(3, None, None)]["sum_v"] == 13.0  # grand total
    assert rows[(2, "a", None)]["n_rows"] == 2     # per-k subtotal
    assert rows[(0, "b", "x")]["sum_v"] == 9.0     # finest


def test_corpus_cli_line_dedup_stage(spark, tmp_path, capsys):
    """--line-dedup strips cross-document boilerplate lines before the
    gate: two pages sharing a footer line keep their unique bodies."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    body1 = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort")
    body2 = ("a scan of the table shows the key and the value where the row "
             "of the batch meets the line of the window in a sort of merge")
    footer = "copyright example corp all rights reserved subscribe now"
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": f"{b}\n{footer}", "source": "s"})
        for i, b in ((1, body1), (2, body2))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--line-dedup", "--master", "local[4]",
    ]) == 0
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: body1, 2: body2}  # footer gone, bodies verbatim


def test_corpus_cli_span_dedup_stage(spark, tmp_path, capsys):
    """--span-dedup removes a mid-paragraph licence sentence shared by
    two pages (no line break alignment — invisible to --line-dedup);
    unique bodies survive verbatim."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    lic = ("this work is licensed under the creative commons attribution "
           "share alike international license terms")
    body1 = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort")
    body2 = ("a scan of the table shows the key and the value where the row "
             "of the batch meets the line of the window in a sort of merge")
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": f"{b} {lic}", "source": "s"})
        for i, b in ((1, body1), (2, body2))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--span-dedup", "--master", "local[4]",
    ]) == 0
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: body1, 2: body2}  # licence span gone, bodies kept


def test_corpus_cli_domain_cap(spark, tmp_path, capsys):
    """--domain-cap keeps at most N docs per registrable domain (PSL
    eTLD+1 of the url column: www./news. subdomains share one cap) —
    the parquet lane carries url through; the JSONL lane's fixed schema
    does not (there the cap falls back to source)."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    words = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort")
    src = str(tmp_path / "docs.parquet")
    rows = [
        (i, f"{words} marker{i}", f"https://www{i % 2}.big.co.uk/p/{i}", "s")
        for i in range(6)
    ] + [(10, f"{words} markerx", "https://solo.example.com/only", "s")]
    spark.createDataFrame(
        rows, "doc_id long, text string, url string, source string"
    ).write.parquet(src)
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", src, "--out", out,
        "--domain-cap", "2", "--master", "local[4]",
    ]) == 0
    rows = spark.read.parquet(out).collect()
    by_dom: dict[str, int] = {}
    for r in rows:
        key = "big" if "big.co.uk" in r["url"] else "solo"
        by_dom[key] = by_dom.get(key, 0) + 1
    assert by_dom == {"big": 2, "solo": 1}


def test_corpus_cli_lm_gate(spark, tmp_path, capsys):
    """--lm-ref/--lm-max-ce: the CCNet LM stage — pages phrased like the
    reference survive, token salad over the same vocabulary is dropped
    with accounting (the heuristic gate alone passes both)."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main
    from polygon_io_data_ingestion_pipeline_spark.operators.ngram_lm import (
        ngram_lm_cross_entropy,
        ngram_lm_train,
    )

    ref_rows = [
        (i, "the data in the table is the value of the row and the key "
            "of the batch while the line in the window is the part of "
            "the sort and the scan of the batch is the merge")
        for i in range(8)
    ]
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame(ref_rows, "doc_id long, text string").write.parquet(ref)

    good = ("the data in the table is the value of the row and the key of "
            "the batch while the line in the window is the part of the sort")
    salad = ("sort the of while line data key the and batch value in row of "
             "the the is table the the window part the scan merge is of")
    # pick a threshold between the two scores so the gate separates them
    model = ngram_lm_train(spark.createDataFrame(ref_rows, "doc_id long, text string"))
    docs_df = spark.createDataFrame(
        [(1, good), (2, salad)], "doc_id long, text string"
    )
    ce = {
        r["doc_id"]: r["cross_entropy"]
        for r in ngram_lm_cross_entropy(docs_df, model).collect()
    }
    assert ce[1] < ce[2]
    thr = (ce[1] + ce[2]) / 2

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in ((1, good), (2, salad))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--lm-ref", ref, "--lm-max-ce", str(thr), "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "lm-gate: dropped=1" in msg
    rows = spark.read.parquet(out).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_corpus_cli_domain_cap_without_url_or_source(spark, tmp_path, capsys):
    """A parquet corpus carrying neither url nor source must not crash
    --domain-cap: the cap degrades to a global constant group."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    words = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort")
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"{words} marker{i}") for i in range(5)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", src, "--out", out,
        "--domain-cap", "3", "--master", "local[4]",
    ]) == 0
    assert len(spark.read.parquet(out).collect()) == 3


def test_webgraph_cli(spark, tmp_path, capsys):
    """The webgraph journey: batch-keyed outlink edges -> pagerank,
    star components, and anchor index tables in one command."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    edges = str(tmp_path / "edges")
    rows = [
        ("http://a.x/1", "http://a.x/2", "next page", False),
        ("http://a.x/2", "http://a.x/1", "back", False),
        ("http://a.x/1", "http://b.x/1", "partner site", False),
        ("http://a.x/1", "http://spam.x/1", "sponsored", True),  # nofollow
        ("http://c.x/1", "http://c.x/2", "island", False),
    ]
    spark.createDataFrame(
        rows, "src string, dst string, anchor string, nofollow boolean"
    ).write.parquet(edges)
    out = str(tmp_path / "wg")
    assert main([
        "webgraph", "--edges", edges, "--out", out, "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "components=2" in msg  # {a.x/1,a.x/2,b.x/1} and {c.x/1,c.x/2}

    pr = {r["node"] for r in spark.read.parquet(out + "/pagerank").collect()}
    assert "http://spam.x/1" not in pr  # nofollow edge excluded
    cc = {
        r["node"]: r["component_id"]
        for r in spark.read.parquet(out + "/components").collect()
    }
    assert cc["http://b.x/1"] == "http://a.x/1"
    ai = {
        r["url"]: list(r["anchors"])
        for r in spark.read.parquet(out + "/anchors").collect()
    }
    assert ai["http://b.x/1"] == ["partner site"]
    assert "http://spam.x/1" not in ai


def test_corpus_cli_lm_gate_backoff_order(spark, tmp_path, capsys):
    """--lm-order 3 routes the gate through stupid backoff: the same
    good/salad separation holds under the trigram model."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main
    from polygon_io_data_ingestion_pipeline_spark.operators.ngram_lm import (
        ngram_lm_train_counts,
        stupid_backoff_score,
    )

    ref_rows = [
        (i, "the data in the table is the value of the row and the key "
            "of the batch while the line in the window is the part of "
            "the sort and the scan of the batch is the merge")
        for i in range(8)
    ]
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame(ref_rows, "doc_id long, text string").write.parquet(ref)

    good = ("the data in the table is the value of the row and the key of "
            "the batch while the line in the window is the part of the sort")
    salad = ("sort the of while line data key the and batch value in row of "
             "the the is table the the window part the scan merge is of")
    model = ngram_lm_train_counts(
        spark.createDataFrame(ref_rows, "doc_id long, text string"), order=3
    )
    ce = {
        r["doc_id"]: r["avg_neg_logscore"]
        for r in stupid_backoff_score(
            spark.createDataFrame([(1, good), (2, salad)], "doc_id long, text string"),
            model,
        ).collect()
    }
    assert ce[1] < ce[2]
    thr = (ce[1] + ce[2]) / 2

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in ((1, good), (2, salad))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--lm-ref", ref, "--lm-max-ce", str(thr), "--lm-order", "3",
        "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "lm-gate: dropped=1" in msg and "order=3" in msg
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]


def test_webgraph_cli_dedup_normalize_one_keyspace(spark, tmp_path, capsys):
    """Batch-keyed tables re-emit edges and spell aliases differently:
    duplicates must not weight rank, alias spellings must merge, and
    the three outputs must share one key space."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    rows = [
        # same endorsement emitted twice (two batches) + alias spelling
        ("http://a.x/1", "http://B.x/p/?utm_source=s", "partner", False, 1),
        ("http://a.x/1", "http://b.x/p/", "partner", False, 2),
        ("http://a.x/1", "http://b.x/p", "partner two", False, 2),
        ("http://c.x/1", "http://b.x/p", "other ref", False, 1),
    ]
    edges = str(tmp_path / "edges")
    spark.createDataFrame(
        rows,
        "src string, dst string, anchor string, nofollow boolean, batch_id int",
    ).write.parquet(edges)
    out = str(tmp_path / "wg")
    assert main([
        "webgraph", "--edges", edges, "--out", out, "--master", "local[4]",
    ]) == 0
    pr = {r["node"]: r for r in spark.read.parquet(out + "/pagerank").collect()}
    # one normalized target node; each source endorses it exactly once
    assert "http://b.x/p" in pr
    assert not any("utm_source" in n or n.endswith("/p/") for n in pr)
    assert pr["http://a.x/1"]["out_degree"] == 1
    ai = {r["url"]: list(r["anchors"]) for r in spark.read.parquet(out + "/anchors").collect()}
    assert ai["http://b.x/p"] == ["other ref", "partner", "partner two"]
    # one key space: anchors keys are pagerank nodes
    assert set(ai) <= set(pr)


def test_corpus_cli_lm_order_validation(spark, tmp_path, capsys):
    """--lm-order below 2 exits 2 with a message, never silently runs
    the bigram path under a misreported order."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src = tmp_path / "docs.jsonl"
    src.write_text(_json.dumps({"doc_id": 1, "text": "a b", "source": "s"}))
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame([(1, "a b c")], "doc_id long, text string").write.parquet(ref)
    assert main([
        "corpus", "--src", str(src), "--out", str(tmp_path / "o"),
        "--lm-ref", ref, "--lm-order", "1", "--master", "local[4]",
    ]) == 2


def test_corpus_cli_span_tokens_validation(tmp_path):
    """--span-tokens below 2 exits 2 before any Spark work: 0/negative
    values would build 0-grams with empty keys and garbage coverage
    ranges only after a full corpus scan."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src = tmp_path / "docs.jsonl"
    src.write_text(_json.dumps({"doc_id": 1, "text": "a b", "source": "s"}))
    for bad in ("0", "-3", "1"):
        assert main([
            "corpus", "--src", str(src), "--out", str(tmp_path / "o"),
            "--span-dedup", "--span-tokens", bad, "--master", "local[4]",
        ]) == 2, bad


def test_corpus_cli_normalized_dedup(spark, tmp_path, capsys):
    """--normalized-dedup collapses cosmetic variants (punctuation,
    digits) the strict fingerprint keeps apart."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    words = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort")
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in (
            (1, f"{words} (updated 2024-01-01)"),
            (2, f"{words} — updated 2025-06-30"),  # cosmetic variant of 1
        )
    ))
    out = str(tmp_path / "strict")
    assert main(["corpus", "--src", str(src), "--out", out,
                 "--master", "local[4]"]) == 0
    assert len(spark.read.parquet(out).collect()) == 2  # strict: both kept
    out2 = str(tmp_path / "norm")
    assert main(["corpus", "--src", str(src), "--out", out2,
                 "--normalized-dedup", "--master", "local[4]"]) == 0
    rows = spark.read.parquet(out2).collect()
    assert [r["doc_id"] for r in rows] == [1]  # variants collapse, min id


def test_webgraph_cli_trust_seeds(spark, tmp_path, capsys):
    """--trust-seeds adds the TrustRank table: the unreachable spam
    farm scores zero while seeded-side pages carry trust."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    rows = [
        ("http://good.x/1", "http://good.x/2", "a", False),
        ("http://good.x/2", "http://page.x/1", "b", False),
        ("http://spam.x/1", "http://spam.x/2", "c", False),
        ("http://spam.x/2", "http://spam.x/1", "d", False),
    ]
    edges = str(tmp_path / "edges")
    spark.createDataFrame(
        rows, "src string, dst string, anchor string, nofollow boolean"
    ).write.parquet(edges)
    seeds = str(tmp_path / "seeds")
    spark.createDataFrame([("http://good.x/1",)], "node string").write.parquet(seeds)
    out = str(tmp_path / "wg")
    assert main([
        "webgraph", "--edges", edges, "--out", out,
        "--trust-seeds", seeds, "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "trusted=3" in msg  # good1, good2, page — never the farm
    tr = {r["node"]: r["trust"] for r in spark.read.parquet(out + "/trust").collect()}
    assert tr["http://spam.x/1"] == 0.0 and tr["http://spam.x/2"] == 0.0
    assert tr["http://page.x/1"] > 0


def test_webgraph_cli_seed_normalization_and_self_loops(spark, tmp_path, capsys):
    """Seeds in crawl spellings must match the normalized key space,
    and alias self-links must not self-endorse rank."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    rows = [
        ("http://good.x/1", "http://good.x/2", "a", False),
        # alias self-link: normalizes to a self-loop, must be dropped
        ("http://good.x/2", "http://good.x/2/", "self", False),
    ]
    edges = str(tmp_path / "edges")
    spark.createDataFrame(
        rows, "src string, dst string, anchor string, nofollow boolean"
    ).write.parquet(edges)
    seeds = str(tmp_path / "seeds")
    # crawl spelling: uppercase host, tracking param, trailing slash
    spark.createDataFrame(
        [("http://GOOD.x/1?utm_source=s",)], "node string"
    ).write.parquet(seeds)
    out = str(tmp_path / "wg")
    assert main([
        "webgraph", "--edges", edges, "--out", out,
        "--trust-seeds", seeds, "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "trusted=2" in msg  # seed matched after normalization
    pr = {r["node"]: r for r in spark.read.parquet(out + "/pagerank").collect()}
    # self-loop dropped: good.x/2 has no out-edges left
    assert pr["http://good.x/2"]["out_degree"] == 0


def test_corpus_cli_graph_selection_loop(spark, tmp_path, capsys):
    """The graph -> selection loop: webgraph trust/ + pagerank/ feed
    corpus --min-trust (spam pages dropped with accounting) and
    --domain-cap --cap-by-rank (each domain keeps its most central
    pages, not a hash-random subset)."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    # graph: good.x cluster (seeded) + spam.x farm (unreachable from
    # seeds, densely interlinked)
    edges = str(tmp_path / "edges")
    rows = [
        ("http://good.x/1", "http://good.x/2", "a", False),
        ("http://good.x/2", "http://good.x/1", "b", False),
        ("http://good.x/1", "http://good.x/3", "c", False),
        ("http://good.x/3", "http://good.x/2", "d", False),
        ("http://spam.x/1", "http://spam.x/2", "s", False),
        ("http://spam.x/2", "http://spam.x/1", "s", False),
    ]
    spark.createDataFrame(
        rows, "src string, dst string, anchor string, nofollow boolean"
    ).write.parquet(edges)
    seeds = str(tmp_path / "seeds")
    spark.createDataFrame([("http://good.x/1",)], "node string").write.parquet(seeds)
    wg = str(tmp_path / "wg")
    assert main([
        "webgraph", "--edges", edges, "--out", wg,
        "--trust-seeds", seeds, "--master", "local[4]",
    ]) == 0
    capsys.readouterr()

    words = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort "
             "and the file holds the record that the user wrote for the test")
    docs = []
    for i, url in enumerate([
        "http://good.x/1", "http://good.x/2", "http://good.x/3",
        "http://spam.x/1", "http://spam.x/2",
    ]):
        docs.append({"doc_id": i, "text": f"{words} page {i}", "source": "s",
                     "url": url})
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(d["doc_id"], d["text"], d["source"], d["url"]) for d in docs],
        "doc_id long, text string, source string, url string",
    ).write.parquet(src)

    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", src, "--out", out,
        "--graph", wg, "--min-trust", "0.000001", "--master", "local[4]",
    ]) == 0
    text = capsys.readouterr().out
    assert "trust-gate: dropped=2" in text
    kept_urls = {
        r["url"] for r in spark.read.parquet(out).collect()
    }
    assert kept_urls == {
        "http://good.x/1", "http://good.x/2", "http://good.x/3"
    }

    # --cap-by-rank: cap good.x to 2 pages -> the two highest-pagerank
    # pages survive (2 is endorsed by both 1 and 3; 3 only by 1 —
    # strict rank order, no tie-break dependence)
    out2 = str(tmp_path / "corpus2")
    assert main([
        "corpus", "--src", src, "--out", out2,
        "--graph", wg, "--min-trust", "0.000001",
        "--domain-cap", "2", "--cap-by-rank", "--master", "local[4]",
    ]) == 0
    capsys.readouterr()
    kept2 = {r["url"] for r in spark.read.parquet(out2).collect()}
    assert kept2 == {"http://good.x/1", "http://good.x/2"}

    # flag validation before any Spark work
    assert main([
        "corpus", "--src", src, "--out", out, "--min-trust", "0.5",
        "--master", "local[4]",
    ]) == 2
    assert main([
        "corpus", "--src", src, "--out", out, "--graph", wg,
        "--cap-by-rank", "--master", "local[4]",
    ]) == 2


def test_corpus_cli_cap_by_rank_requires_url_column(spark, tmp_path, capsys):
    """Review regression: --cap-by-rank on a corpus with no url column
    exits 2 with a message instead of an unresolved-column traceback."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    words = ("the data in a table is the value of the row and the key for "
             "the batch while the line in a window is the part of the sort")
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, words, "s")], "doc_id long, text string, source string"
    ).write.parquet(src)
    wg = str(tmp_path / "wg")  # never read: the guard fires first
    # the guard is schema-only: the command launches no more jobs than
    # reading the source's schema does, so no gate or dedup job ran
    sc = spark.sparkContext
    sc.setJobGroup("url-guard-schema", "schema read")
    spark.read.parquet(src).columns
    sc.setJobGroup("url-guard-corpus", "corpus")
    try:
        assert main([
            "corpus", "--src", src, "--out", str(tmp_path / "o"),
            "--graph", wg, "--domain-cap", "2", "--cap-by-rank",
            "--master", "local[4]",
        ]) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("url-guard-corpus")) <= len(
        tracker.getJobIdsForGroup("url-guard-schema")
    )


def test_corpus_cli_clf_gate(spark, tmp_path, capsys):
    """--clf-good/--clf-bad: the model-based quality filter — a Naive
    Bayes classifier trains on the two references in-engine; docs that
    read like the bad reference drop with accounting, docs that read
    like the good one survive (the heuristic gate alone passes both)."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    goodish = ("the data in the table is the value of the row and the key "
               "of the batch while the line in the window is the part of "
               "the sort and the scan of the batch is the merge")
    spammy = ("the cheap pills and the lucky prize of the winner in the "
              "draw are the offer of the day while the bonus of the deal "
              "is the gift of the spin and the jackpot of the club")
    gref = str(tmp_path / "good.parquet")
    bref = str(tmp_path / "bad.parquet")
    spark.createDataFrame(
        [(i, goodish) for i in range(6)], "doc_id long, text string"
    ).write.parquet(gref)
    spark.createDataFrame(
        [(i, spammy) for i in range(6)], "doc_id long, text string"
    ).write.parquet(bref)

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in ((1, goodish), (2, spammy))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--clf-good", gref, "--clf-bad", bref, "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "clf-gate: dropped=1 margin=0.0" in msg
    rows = spark.read.parquet(out).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_corpus_cli_lm_keep_buckets(spark, tmp_path, capsys):
    """--lm-keep-buckets head,middle: the CCNet tercile gate — with
    three docs of strictly ordered cross-entropy the worst tercile
    drops, without hand-picking a threshold."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    ref_rows = [
        (i, "the data in the table is the value of the row and the key "
            "of the batch while the line in the window is the part of "
            "the sort and the scan of the batch is the merge")
        for i in range(8)
    ]
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame(ref_rows, "doc_id long, text string").write.parquet(ref)

    good = ("the data in the table is the value of the row and the key of "
            "the batch while the line in the window is the part of the sort")
    mid = ("the data in the table is the value of the row and the key of "
           "the batch while the sort of the window is the line in the part")
    salad = ("sort the of while line data key the and batch value in row of "
             "the the is table the the window part the scan merge is of")
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in ((1, good), (2, mid), (3, salad))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--lm-ref", ref, "--lm-keep-buckets", "head,middle",
        "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "lm-gate: dropped=1 keep_buckets=head,middle" in msg
    rows = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]


def test_corpus_cli_clf_and_bucket_flag_validation(tmp_path):
    """Flag misuse exits 2 BEFORE any Spark work: --clf-good without
    --clf-bad, --lm-keep-buckets without --lm-ref, and a bucket name
    outside head/middle/tail."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src = tmp_path / "docs.jsonl"
    src.write_text('{"doc_id": 1, "text": "the a of"}')
    base = ["corpus", "--src", str(src), "--out", str(tmp_path / "o")]
    assert main(base + ["--clf-good", "g.parquet"]) == 2
    assert main(base + ["--lm-keep-buckets", "head"]) == 2
    assert main(
        base + ["--lm-ref", "r.parquet", "--lm-keep-buckets", "head,best"]
    ) == 2


def test_corpus_cli_lm_gate_flags_mutually_exclusive(tmp_path):
    """--lm-max-ce together with --lm-keep-buckets exits 2: silently
    ignoring the user's explicit threshold would misreport the gate."""
    from polygon_io_data_ingestion_pipeline_spark.cli import main

    src = tmp_path / "docs.jsonl"
    src.write_text('{"doc_id": 1, "text": "the a of"}')
    assert main([
        "corpus", "--src", str(src), "--out", str(tmp_path / "o"),
        "--lm-ref", "r.parquet", "--lm-max-ce", "5.0",
        "--lm-keep-buckets", "head",
    ]) == 2


def test_clftrain_then_corpus_clf_model(spark, tmp_path, capsys):
    """The full model lifecycle on the CLI: clftrain saves the NB model
    with accounting; corpus --clf-model serves it without retraining
    and gates identically to the inline --clf-good/--clf-bad path."""
    import json as _json

    from polygon_io_data_ingestion_pipeline_spark.cli import main

    goodish = ("the data in the table is the value of the row and the key "
               "of the batch while the line in the window is the part of "
               "the sort and the scan of the batch is the merge")
    spammy = ("the cheap pills and the lucky prize of the winner in the "
              "draw are the offer of the day while the bonus of the deal "
              "is the gift of the spin and the jackpot of the club")
    gref, bref = str(tmp_path / "g.parquet"), str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(i, goodish) for i in range(6)], "doc_id long, text string"
    ).write.parquet(gref)
    spark.createDataFrame(
        [(i, spammy) for i in range(6)], "doc_id long, text string"
    ).write.parquet(bref)

    model = str(tmp_path / "model")
    assert main([
        "clftrain", "--good", gref, "--bad", bref, "--out", model,
        "--master", "local[4]",
    ]) == 0
    msg = capsys.readouterr().out
    assert "clftrain: label=bad docs=6" in msg
    assert "clftrain: label=good docs=6" in msg
    assert "clftrain: vocab=" in msg

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in ((1, goodish), (2, spammy))
    ))
    out = str(tmp_path / "corpus")
    assert main([
        "corpus", "--src", str(src), "--out", out,
        "--clf-model", model, "--master", "local[4]",
    ]) == 0
    assert "clf-gate: dropped=1" in capsys.readouterr().out
    rows = spark.read.parquet(out).collect()
    assert [r["doc_id"] for r in rows] == [1]

    # mutual exclusion validates before Spark work
    assert main([
        "corpus", "--src", str(src), "--out", str(tmp_path / "o2"),
        "--clf-model", model, "--clf-good", gref, "--clf-bad", bref,
    ]) == 2


def test_corpus_clf_text_col_and_label_validation(spark, tmp_path, capsys):
    """--clf-text-col reads reference corpora whose text column is not
    named `text`, and a saved model lacking the good/bad labels fails
    loudly at gate setup instead of keeping everything with dropped=0
    (round-11 ADVICE fixes)."""
    import json as _json

    import pytest as _pytest

    from polygon_io_data_ingestion_pipeline_spark.cli import main
    from polygon_io_data_ingestion_pipeline_spark.operators.classify import (
        nb_save,
        nb_train,
    )
    import pyspark.sql.functions as F

    goodish = ("the data in the table is the value of the row and the key "
               "of the batch while the line in the window is the part of "
               "the sort and the scan of the batch is the merge")
    spammy = ("the cheap pills and the lucky prize of the winner in the "
              "draw are the offer of the day while the bonus of the deal "
              "is the gift of the spin and the jackpot of the club")
    gref, bref = str(tmp_path / "g.parquet"), str(tmp_path / "b.parquet")
    # reference tables with a NON-default text column name
    spark.createDataFrame(
        [(i, goodish) for i in range(4)], "doc_id long, body string"
    ).write.parquet(gref)
    spark.createDataFrame(
        [(i, spammy) for i in range(4)], "doc_id long, body string"
    ).write.parquet(bref)

    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "source": "s"})
        for i, t in ((1, goodish), (2, spammy))
    ))
    assert main([
        "corpus", "--src", str(src), "--out", str(tmp_path / "o"),
        "--clf-good", gref, "--clf-bad", bref, "--clf-text-col", "body",
        "--master", "local[4]",
    ]) == 0
    assert "clf-gate: dropped=1" in capsys.readouterr().out

    # wrong-label model: fail at setup, not silently keep
    wrong = nb_train(spark.createDataFrame(
        [("spam", spammy), ("ham", goodish)], "label string, text string"
    ))
    mpath = str(tmp_path / "wrong_model")
    nb_save(wrong, mpath)
    with _pytest.raises(ValueError, match="lacks required labels"):
        main([
            "corpus", "--src", str(src), "--out", str(tmp_path / "o2"),
            "--clf-model", mpath, "--master", "local[4]",
        ])


GOOD_B2 = (
    "a scan of the table shows the key and the value where the row of "
    "the batch meets the line of the window in a sort of merge"
)


def test_corpus_cli_fuzzy_dedup(spark, tmp_path, capsys):
    """--fuzzy-dedup: near-duplicates past the exact stage (one edited
    word) collapse to the min-id representative via LSH candidates +
    exact verify + transitive closure; unrelated docs keep; a bogus
    threshold exits 2 BEFORE any Spark action."""
    src = tmp_path / "in"
    src.mkdir()
    near = GOOD.replace("window", "screen")  # 1-word edit: near-dup of GOOD
    lines = [
        _line(1, GOOD),
        _line(2, near),
        _line(3, GOOD_B2),
    ]
    (src / "docs.jsonl").write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "out")
    rc = main([
        "corpus", "--src", str(src), "--out", out, "--fuzzy-dedup", "0.5",
    ])
    assert rc == 0
    msg = capsys.readouterr().out
    assert "fuzzy-dedup: dropped=1 threshold=0.5" in msg
    rows = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert rows == {1, 3}  # 2 collapsed into 1; 3 unrelated, kept

    assert main([
        "corpus", "--src", str(src), "--out", str(tmp_path / "o2"),
        "--fuzzy-dedup", "1.5",
    ]) == 2


def test_lsh_verified_pairs_candidates_only_and_cjk(spark):
    """lsh_verified_pairs == jaccard_pairs semi-joined with LSH
    candidates (the verify runs on candidates ONLY); the auto tokenizer
    surfaces the CJK near-dup pair the word path cannot see."""
    from polygon_io_data_ingestion_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        lsh_verified_pairs,
    )

    zh_a = ("科学家发现海洋变暖的速度比他们想象的要快这对所有国家来说都"
            "是一个问题因为气候变化的影响正在不断加剧而且没有任何放缓")
    zh_b = zh_a.replace("想象", "想像")
    docs = spark.createDataFrame(
        [(1, GOOD), (2, GOOD.replace("window", "screen")),
         (3, GOOD_B2), (4, zh_a), (5, zh_b)],
        "doc_id long, text string",
    )
    for tok in ("word", "auto"):
        got = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in lsh_verified_pairs(
                docs, threshold=0.3, tokenizer=tok
            ).collect()
        }
        cand = {
            (r["id1"], r["id2"])
            for r in lsh_candidate_pairs(docs, tokenizer=tok).collect()
        }
        exact = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in jaccard_pairs(
                docs, threshold=0.3, tokenizer=tok
            ).collect()
        }
        expect = {p: j for p, j in exact.items() if p in cand}
        assert got == expect
        if tok == "auto":
            assert (4, 5) in got  # the CJK pair, invisible to word mode
        else:
            assert (4, 5) not in got
        assert (1, 2) in got


def test_corpus_cli_nfc_dedup(spark, tmp_path, capsys):
    """--nfc (round 13): the NFD re-encoding of a kept page is the same
    rendered text and must land in the same duplicate class; without
    the flag both copies survive."""
    import unicodedata

    nfc_text = GOOD + " café münchen quality content here"
    nfd_text = unicodedata.normalize("NFD", nfc_text)
    assert nfc_text != nfd_text

    src = tmp_path / "in"
    src.mkdir()
    (src / "docs.jsonl").write_text(
        "\n".join([_line(1, nfc_text), _line(2, nfd_text)]) + "\n"
    )

    out1 = str(tmp_path / "out1")
    rc = main(["corpus", "--src", str(src), "--out", out1])
    assert rc == 0
    assert spark.read.parquet(out1).count() == 2  # split along NFC/NFD

    out2 = str(tmp_path / "out2")
    rc = main(["corpus", "--src", str(src), "--out", out2, "--nfc"])
    assert rc == 0
    kept = spark.read.parquet(out2).collect()
    assert [r["doc_id"] for r in kept] == [1]  # min-id representative


def test_corpus_cli_shingle_tokenizer_runs(spark, tmp_path, capsys):
    """--shingle-tokenizer runs (round 13): with an embedded CJK
    paragraph below the whole-doc dominance line, word shingles see it
    as ONE token — a one-character typo inside it and a WHOLLY
    REPLACED paragraph score the same jaccard (0.931 here), so the
    word lane at 0.6 over-merges all three docs and silently drops a
    genuinely different document.  The per-script-run lane grams the
    paragraph in place (typo 0.763, replacement 0.351): only the typo
    pair collapses."""
    para = "科学家发现海洋变暖的速度比他们想象的要快这是一个严重的问题"
    typo = "科学家发现海洋变暖的速度比他们想像的要快这是一个严重的问题"
    repl = "今天城市交通状况有了明显改善市民出行更加方便大家非常满意了"
    src = tmp_path / "in"
    src.mkdir()
    lines = [
        _line(1, f"{GOOD} {para}"),
        _line(2, f"{GOOD} {typo}"),
        _line(3, f"{GOOD} {repl}"),
    ]
    (src / "docs.jsonl").write_text("\n".join(lines) + "\n")

    out1 = str(tmp_path / "out1")
    rc = main([
        "corpus", "--src", str(src), "--out", out1, "--fuzzy-dedup", "0.6",
    ])
    assert rc == 0
    # word lane: typo and replacement indistinguishable -> over-merge
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out1).collect()
    ) == [1]

    out2 = str(tmp_path / "out2")
    rc = main([
        "corpus", "--src", str(src), "--out", out2, "--fuzzy-dedup", "0.6",
        "--shingle-tokenizer", "runs",
    ])
    assert rc == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept == [1, 3]  # typo collapsed, replacement kept


def _corpus_line(printed):
    """The accounting line's figures, without the output path."""
    line = next(ln for ln in printed.splitlines() if ln.startswith("corpus -> "))
    return line.split(": ", 1)[1]


def _write_docs(path, n):
    """A parquet corpus of ``n`` gate-passing documents, written in place
    by a writer other than Spark (so no Spark cache hears of it)."""
    import pandas as pd

    pd.DataFrame({
        "doc_id": range(n),
        "text": [f"{GOOD} marker{i}" for i in range(n)],
        "source": "s",
    }).to_parquet(path)


def test_corpus_cli_rerun_after_source_overwrite(spark, tmp_path, capsys):
    """A second run in the same session, after the source was overwritten
    in place, accounts and writes exactly what a first run on the new
    source does: nothing is served from the earlier run's frames."""
    src, out = str(tmp_path / "docs.parquet"), str(tmp_path / "out")
    _write_docs(src, 8)
    assert main(["corpus", "--src", src, "--out", out]) == 0
    assert _corpus_line(capsys.readouterr().out).startswith(
        "read=8 quarantined=0 unique_kept=8 "
    )

    _write_docs(src, 3)
    assert main(["corpus", "--src", src, "--out", out]) == 0
    rerun = _corpus_line(capsys.readouterr().out)
    rerun_rows = sorted(map(tuple, spark.read.parquet(out).collect()))

    fresh_src, fresh_out = str(tmp_path / "fresh.parquet"), str(tmp_path / "fresh")
    _write_docs(fresh_src, 3)
    assert main(["corpus", "--src", fresh_src, "--out", fresh_out]) == 0
    assert rerun == _corpus_line(capsys.readouterr().out)
    assert rerun.startswith("read=3 quarantined=0 unique_kept=3 ")
    assert rerun_rows == sorted(map(tuple, spark.read.parquet(fresh_out).collect()))


def test_corpus_cli_releases_its_caches(spark, tmp_path, capsys):
    """Every frame the command caches is released before it returns, on
    the parquet lane (the gated frame) and on an archive lane (the
    decoded documents too)."""
    import io as _io
    import zipfile as _zipfile

    cache = spark._jsparkSession.sharedState().cacheManager()
    src = str(tmp_path / "docs.parquet")
    _write_docs(src, 4)
    buf = _io.BytesIO()
    with _zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", GOOD)
        zf.writestr("b.txt", GOOD_B2)
    zdir = tmp_path / "zips"
    zdir.mkdir()
    (zdir / "bundle.zip").write_bytes(buf.getvalue())

    spark.catalog.clearCache()
    for argv in (
        ["--src", src, "--line-dedup", "--fuzzy-dedup", "0.8"],
        ["--src", str(zdir), "--input-format", "zip"],
    ):
        assert main(["corpus", *argv, "--out", str(tmp_path / "out")]) == 0
        assert cache.isEmpty(), argv
    assert "read=2 quarantined=0 unique_kept=2 " in capsys.readouterr().out


def test_corpus_cli_everything_gated_with_fuzzy_dedup(spark, tmp_path, capsys):
    """A corpus whose every document fails the gate still completes with
    fuzzy dedup on: the empty frames above the gate must not swallow the
    observed read count, and no observation may wait forever.  The run
    goes in a thread so a hang fails the test instead of the suite."""
    import threading

    src = tmp_path / "in"
    src.mkdir()
    (src / "docs.jsonl").write_text(
        "\n".join(_line(i, f"short junk {i}") for i in range(3)) + "\n"
    )
    result = {}
    worker = threading.Thread(
        target=lambda: result.update(rc=main([
            "corpus", "--src", str(src), "--out", str(tmp_path / "out"),
            "--fuzzy-dedup", "0.5",
        ])),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=600)
    assert not worker.is_alive(), "corpus run did not finish"
    assert result == {"rc": 0}
    msg = capsys.readouterr().out
    assert "fuzzy-dedup: dropped=0 threshold=0.5" in msg
    assert _corpus_line(msg) == "read=3 quarantined=0 unique_kept=0 splits={}"
