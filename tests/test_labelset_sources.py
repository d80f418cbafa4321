"""Tests for label-set ops, LabelStudio JSON round-trip, REST source pattern,
CSV/JSONL scans."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_rename_filter_encode_count(spark):
    from otar3088_spark.operators.labelset import (
        count_labels,
        encode_labels,
        filter_entity_labels,
        rename_labels,
    )

    iob = spark.createDataFrame(
        [("c", 0, 0, ["a", "b", "c"], ["B-CELL", "I-CELL", "O"])],
        ["conv_id", "turn_idx", "sent_idx", "tokens", "tags"],
    )
    ren = rename_labels(iob, {"CELL": "CellLine"})
    assert ren.collect()[0]["tags"] == ["B-CellLine", "I-CellLine", "O"]

    cnt = {r["tag"]: (r["n"], r["base_label"]) for r in count_labels(ren).collect()}
    assert cnt["B-CellLine"] == (1, "CellLine") and cnt["O"] == (1, "O")

    enc = encode_labels(ren, {"O": 0, "B-CellLine": 1, "I-CellLine": 2})
    assert enc.collect()[0]["tags_ids"] == [1, 2, 0]

    spans = spark.createDataFrame(
        [("c", "CellLine"), ("c", "Tissue")], ["conv_id", "label"]
    )
    kept = filter_entity_labels(spans, ["CellLine"])
    assert [r["label"] for r in kept.collect()] == ["CellLine"]


def test_flatten_singleton_labels(spark):
    from otar3088_spark.operators.labelset import flatten_singleton_labels

    df = spark.createDataFrame(
        [(1, [{"start": 0, "end": 4, "text": "HeLa", "labels": ["CellLine", "X"]}])],
        "id int, entities array<struct<start:int,end:int,text:string,labels:array<string>>>",
    )
    out = flatten_singleton_labels(df).collect()[0]["entities"][0]
    assert out["label"] == "CellLine" and out["start"] == 0


def test_gazetteer_from_iob_dedup_and_cap(spark):
    from otar3088_spark.operators.labelset import gazetteer_from_iob

    rows = []
    for i in range(10):
        rows.append(("c", 0, i, [f"ent{i % 4}", "x"], ["B-Drug", "O"]))
    iob = spark.createDataFrame(rows, ["conv_id", "turn_idx", "sent_idx", "tokens", "tags"])
    gaz = {r["label"]: r["entities"] for r in gazetteer_from_iob(iob, max_entities_per_type=3).collect()}
    assert len(gaz["Drug"]) == 3  # capped
    assert len(set(gaz["Drug"])) == 3  # deduped
    gaz2 = {r["label"]: r["entities"] for r in gazetteer_from_iob(iob, max_entities_per_type=3).collect()}
    assert gaz == gaz2  # deterministic


def test_train_val_split_deterministic(spark):
    from otar3088_spark.operators.labelset import train_val_split

    df = spark.range(1000)
    t1, v1 = train_val_split(df, 0.2, seed=42)
    t2, v2 = train_val_split(df, 0.2, seed=42)
    assert t1.count() + v1.count() == 1000
    assert sorted(r["id"] for r in v1.collect()) == sorted(r["id"] for r in v2.collect())


def test_labelstudio_roundtrip(spark):
    from otar3088_spark.sources.labelstudio import ls_json_lines, parse_ls_json

    spans = spark.createDataFrame(
        [
            ("c", 0, 0, "HeLa cells grow.", 0, 10, "HeLa cells", "CellLine"),
            ("c", 0, 0, "HeLa cells grow.", 11, 15, "grow", "Verb"),
        ],
        ["conv_id", "turn_idx", "sent_idx", "sent_text", "start", "end", "surface", "label"],
    )
    lines = ls_json_lines(spans)
    assert lines.count() == 1
    back = parse_ls_json(lines).collect()
    got = {(r["start"], r["end"], r["surface"], r["label"]) for r in back}
    assert got == {(0, 10, "HeLa cells", "CellLine"), (11, 15, "grow", "Verb")}
    assert all(r["text"] == "HeLa cells grow." for r in back)


def test_rest_source_pattern(spark):
    from otar3088_spark.sources.rest import clean_search_results, fetch_search_results

    q = spark.createDataFrame([("hela",), ("jurkat",)], ["search_query"])
    res = fetch_search_results(q, pages=2)
    rows = res.collect()
    assert len(rows) > 6
    assert set(r["page"] for r in rows) == {0, 1}
    rows2 = fetch_search_results(q, pages=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))  # idempotent

    cleaned = clean_search_results(res)
    assert cleaned.filter(F.col("pub_type") == "retraction of publication").count() == 0
    assert cleaned.count() == cleaned.select("doc_id").distinct().count()


def test_rest_session_key_honors_explicit_falsy_cache_key():
    """An explicit-but-empty cache_key names its own slot — it must NOT
    silently fall back to the fetcher-token key (round-6 advice)."""
    from otar3088_spark.sources.rest import _session_key, fake_fetcher

    assert _session_key(fake_fetcher, "") == ""
    assert _session_key(fake_fetcher, "slot-a") == "slot-a"
    # unset -> derived per-object key, stable for the same object
    k1 = _session_key(fake_fetcher, None)
    assert k1.startswith("fetcher:") and k1 == _session_key(fake_fetcher, None)
    assert _session_key(None, None) == "fetcher:fake"


def test_csv_and_jsonl_scans(spark, tmp_path):
    """S1 CSV scan + S7 JSON-lines scan with nested schema (PHEE shape)."""
    csv = tmp_path / "dict.tsv"
    csv.write_text("label\tid\tterm\nCellLine\tE1\tHeLa\nDrug\tE2\taspirin\n")
    d = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .csv(str(csv))
    )
    assert {r["term"] for r in d.collect()} == {"HeLa", "aspirin"}

    jsonl = tmp_path / "phee.jsonl"
    jsonl.write_text(
        '{"id":"a","context":"t","is_mult_event":false,"annotations":[{"events":[{"event_id":"e1","event_type":"Adverse_event","event_data":"{\\"x\\":1}"}]}]}\n'
    )
    schema = (
        "id string, context string, is_mult_event boolean, "
        "annotations array<struct<events:array<struct<event_id:string,event_type:string,event_data:string>>>>"
    )
    j = spark.read.schema(schema).json(str(jsonl))
    row = j.collect()[0]
    assert row["annotations"][0]["events"][0]["event_type"] == "Adverse_event"
    inner = j.select(
        F.get_json_object(
            F.col("annotations")[0]["events"][0]["event_data"], "$.x"
        ).alias("x")
    ).collect()[0]
    assert inner["x"] == "1"


def test_augment_with_gazetteer(spark):
    from otar3088_spark.operators.augment import augment_with_gazetteer

    rows = [
        (f"c{i}", 0, 0, ["drugA", "helps", "patients"], ["B-Drug", "O", "O"])
        for i in range(40)
    ]
    iob = spark.createDataFrame(rows, ["conv_id", "turn_idx", "sent_idx", "tokens", "tags"])
    gaz = spark.createDataFrame(
        [("Drug", ["aspirin", "ibuprofen forte"])], ["label", "entities"]
    )
    out = augment_with_gazetteer(iob, gaz, p_swap=0.5, seed=7)
    rows1 = {r["conv_id"]: (r["tokens"], r["tags"], r["augmented"]) for r in out.collect()}
    n_aug = sum(1 for v in rows1.values() if v[2])
    assert 5 < n_aug < 35  # ~50% selected, deterministic
    for toks, tags, aug in rows1.values():
        assert len(toks) == len(tags)
        if aug:
            assert tags[0] == "B-Drug"
            assert toks[:1] != ["drugA"] or len(toks) != 3  # entity swapped
            if len(toks) == 4:  # multi-token replacement
                assert tags[:2] == ["B-Drug", "I-Drug"]
        else:
            assert toks == ["drugA", "helps", "patients"]
    # deterministic re-run
    rows2 = {r["conv_id"]: (r["tokens"], r["tags"], r["augmented"]) for r in
             augment_with_gazetteer(iob, gaz, p_swap=0.5, seed=7).collect()}
    assert rows1 == rows2


# ------------------------------------------------------------- BioC (S12)


def test_bioc_source(spark, tmp_path):
    import json

    from otar3088_spark.sources.bioc import (
        bioc_to_transcripts,
        read_bioc_annotations,
        read_bioc_passages,
    )

    coll = [{
        "documents": [{
            "id": "PMC1",
            "passages": [
                {"infons": {"section_type": "INTRO"}, "offset": 0,
                 "text": "HeLa cells were cultured.",
                 "annotations": [{"id": "a1", "infons": {"type": "CellLine"},
                                  "text": "HeLa",
                                  "locations": [{"offset": 0, "length": 4}]}]},
                {"infons": {"section_type": "RESULTS"}, "offset": 26,
                 "text": "Results follow.", "annotations": []},
            ],
        }]
    }]
    p = tmp_path / "bioc.jsonl"
    p.write_text(json.dumps(coll) + "\n")

    passages = read_bioc_passages(spark, str(p))
    rows = {(r["doc_id"], r["passage_idx"], r["section_type"], r["offset"], r["text"])
            for r in passages.collect()}
    assert rows == {
        ("PMC1", 0, "INTRO", 0, "HeLa cells were cultured."),
        ("PMC1", 1, "RESULTS", 26, "Results follow."),
    }
    anns = read_bioc_annotations(spark, str(p)).collect()
    assert len(anns) == 1
    a = anns[0]
    assert (a["ann_id"], a["ann_type"], a["start"], a["end"], a["text"]) == (
        "a1", "CellLine", 0, 4, "HeLa")
    t = bioc_to_transcripts(passages)
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.count() == 2


# ------------------------------------------------------------- JDBC (S8/S9)


def test_jdbc_options():
    import pytest

    from otar3088_spark.sources.jdbc import POSTGRES_URL, SQLITE_URL, jdbc_options

    o = jdbc_options(
        SQLITE_URL.format(path="/data/chembl.db"), table="activities",
        partition_column="activity_id", lower_bound=0, upper_bound=1_000_000,
        num_partitions=32,
    )
    assert o["dbtable"] == "activities" and o["numPartitions"] == "32"
    assert o["partitionColumn"] == "activity_id" and o["fetchsize"] == "10000"

    o2 = jdbc_options(
        POSTGRES_URL.format(host="h", port=5432, db="aact"),
        query="SELECT nct_id FROM studies WHERE phase = 'Phase 3'",
    )
    assert "query" in o2 and "dbtable" not in o2

    with pytest.raises(ValueError):
        jdbc_options("jdbc:x", table="t", query="q")
    with pytest.raises(ValueError):
        jdbc_options("jdbc:x", table="t", partition_column="c")
    with pytest.raises(ValueError):
        jdbc_options("jdbc:x", query="q", partition_column="c",
                     lower_bound=0, upper_bound=1, num_partitions=2)


# ------------------------------------------------------------- F8 lemmas


def test_lemma_overrides_match_irregular_plural(spark):
    from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions

    sents = spark.createDataFrame(
        [("c1", 0, 0, "the mice were treated and feet were measured.")],
        "conv_id string, turn_idx int, sent_idx int, sent_text string",
    )
    d = prepare_dictionary(spark.createDataFrame(
        [("E1", "mouse", "CellType"), ("E2", "foot", "Tissue")],
        ["ent_id", "term", "label"],
    ))
    # without overrides: rule-based destem gives 'mice'->'mic', no match
    base = tag_mentions(sents, d).collect()
    assert base == []
    got = {
        (r["start"], r["end"], r["surface"], r["term"], r["label"])
        for r in tag_mentions(
            sents, d, lemma_overrides={"mice": "mouse", "feet": "foot"}
        ).collect()
    }
    assert got == {
        (4, 8, "mice", "mouse", "CellType"),
        (26, 30, "feet", "foot", "Tissue"),
    }


# ------------------------------------------------------------- M2 classify


def test_model_classify_deterministic(spark):
    from otar3088_spark.operators.inference import model_classify

    sents = spark.createDataFrame(
        [("c1", 0, 0, "HeLa cells were cultured."),
         ("c1", 0, 1, "Results follow.")],
        "conv_id string, turn_idx int, sent_idx int, sent_text string",
    )
    a = {tuple(r) for r in model_classify(sents).collect()}
    b = {tuple(r) for r in model_classify(sents).collect()}
    assert a == b and len(a) == 2
    for (_c, _t, _s, cls, score) in a:
        assert cls in ("background", "method", "result", "adverse_event")
        assert 0.5 <= score < 1.0


# ------------------------------------------------------------- S11 XML strip


def test_strip_xml_expr(spark):
    from otar3088_spark.functions.text import strip_xml_sql

    xml = (
        "<article><fig-count count=\"2\"/><body><sec><title>Results</title>"
        "<p>HeLa cells <xref ref-type=\"bibr\" rid=\"b1\">1</xref> grew "
        "<inline-formula><mml:math>x^2</mml:math></inline-formula> fast.</p>"
        "<table-wrap id=\"t1\"><table><tr><td>drop me</td></tr></table></table-wrap>"
        "<fig id=\"f1\"><caption><p>drop caption</p></caption></fig>"
        "<!-- a comment -->"
        "<p>Second sentence here.</p></sec>"
        "<ack><p>thanks everyone</p></ack>"
        "<ref-list><ref>ignored</ref></ref-list></body></article>"
    )
    df = spark.createDataFrame([(xml,)], ["raw"])
    got = df.selectExpr(f"{strip_xml_sql('raw')} AS t").collect()[0]["t"]
    assert got == "Results HeLa cells grew fast. Second sentence here."


def test_hf_dataset_sink_roundtrip(spark, tmp_path):
    """K5 sink: hub-layout shards + dataset card, read-back parity, split
    merge, and the gated push seam."""
    import pytest

    from otar3088_spark.sources.hf_dataset import (
        push_to_hub,
        read_hf_dataset,
        write_hf_dataset,
    )

    df = spark.createDataFrame(
        [(1, "alpha", [1.0, 2.0]), (2, "beta", [3.0]), (3, "gamma", [])],
        ["doc_id", "text", "vec"],
    )
    out = tmp_path / "ds"
    shards = write_hf_dataset(df, str(out), split="train", num_shards=2)
    assert shards == [
        "data/train-00000-of-00002.parquet",
        "data/train-00001-of-00002.parquet",
    ]
    assert sorted(p.name for p in (out / "data").iterdir()) == [
        "train-00000-of-00002.parquet",
        "train-00001-of-00002.parquet",
    ]

    card = (out / "README.md").read_text()
    assert card.startswith("---\n")
    for needle in (
        "- name: doc_id",
        "  dtype: int64",
        "- name: text",
        "  dtype: string",
        "- name: vec",
        "  sequence: float64",
        "- name: train",
        "num_examples: 3",
        "path: data/train-*",
    ):
        assert needle in card, needle

    back = read_hf_dataset(spark, str(out), "train")
    assert back.schema == df.schema
    assert sorted(r["text"] for r in back.collect()) == ["alpha", "beta", "gamma"]

    # a second split extends the card instead of clobbering the first
    write_hf_dataset(df.limit(1), str(out), split="validation", num_shards=1)
    card2 = (out / "README.md").read_text()
    assert "- name: train" in card2 and "- name: validation" in card2
    assert "num_examples: 3" in card2 and "num_examples: 1" in card2
    assert (out / "data" / "validation-00000-of-00001.parquet").exists()
    assert read_hf_dataset(spark, str(out), "train").count() == 3

    # re-writing an EXISTING split replaces its shards: the old generation
    # (2 shards) must not survive next to the new one (1 shard) — the
    # {split}-* read glob would union both
    write_hf_dataset(df.limit(2), str(out), split="train", num_shards=1)
    assert sorted(p.name for p in (out / "data").iterdir()) == [
        "train-00000-of-00001.parquet",
        "validation-00000-of-00001.parquet",
    ]
    assert read_hf_dataset(spark, str(out), "train").count() == 2
    card3 = (out / "README.md").read_text()
    assert "num_examples: 2" in card3 and "num_examples: 1" in card3

    # splits of one config must share a schema: a divergent split is
    # refused before any existing file is touched
    bad = df.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="share a schema"):
        write_hf_dataset(bad, str(out), split="test", num_shards=1)
    assert read_hf_dataset(spark, str(out), "train").count() == 2
    assert not list(out.glob("_staging_*"))

    # an empty DataFrame writes zero part files: silently replacing an
    # existing generation with nothing must be refused, old shards intact
    with pytest.raises(ValueError, match="empty DataFrame"):
        write_hf_dataset(df.limit(0), str(out), split="train")
    assert read_hf_dataset(spark, str(out), "train").count() == 2
    assert not list(out.glob("_staging_*"))

    with pytest.raises(NotImplementedError, match="hub layout"):
        push_to_hub(str(out), "org/repo")


def test_hf_dataset_card_nested_sequence(spark, tmp_path):
    """array<array<T>> columns (per-token embeddings) must produce a valid
    nested `sequence:` card node, not a KeyError after shards install."""
    from otar3088_spark.sources.hf_dataset import read_hf_dataset, write_hf_dataset

    df = spark.createDataFrame(
        [(1, [[1.0, 2.0], [3.0]]), (2, [[4.0]])], ["doc_id", "tok_vecs"]
    )
    out = tmp_path / "nested"
    write_hf_dataset(df, str(out), split="train", num_shards=1)
    card = (out / "README.md").read_text()
    assert "- name: tok_vecs" in card
    assert "sequence:\n      sequence: float64" in card
    assert read_hf_dataset(spark, str(out), "train").count() == 2


def test_conll_sink_roundtrips_through_reader(spark, tmp_path):
    """K2 write -> read round trip: each sentence's value ends with a
    trailing newline so the text writer's own newline yields the BLANK
    separator line — without it every sentence in a file merged into one."""
    from otar3088_spark.sources.conll import conll_lines, read_conll

    iob = spark.createDataFrame(
        [
            ("a", 0, ["HeLa", "cells", "grew"], ["B-CellLine", "I-CellLine", "O"]),
            ("a", 1, ["aspirin", "helps"], ["B-Drug", "O"]),
        ],
        ["conv_id", "sent_idx", "tokens", "tags"],
    )
    out = tmp_path / "sink.conll"
    conll_lines(iob).coalesce(1).select("value").write.mode("overwrite").text(str(out))
    back = read_conll(spark, str(out))
    got = {
        (tuple(r["tokens"]), tuple(r["tags"])) for r in back.collect()
    }
    assert got == {
        (("HeLa", "cells", "grew"), ("B-CellLine", "I-CellLine", "O")),
        (("aspirin", "helps"), ("B-Drug", "O")),
    }


def test_bioc_discontinuous_annotation_covering_extent(spark, tmp_path):
    """Multi-location BioC annotations collapse to (first start, last end) —
    the BRAT discontinuous-span convention — not the first fragment only."""
    import json

    from otar3088_spark.sources.bioc import read_bioc_annotations

    coll = [{
        "documents": [{
            "id": "D1",
            "passages": [{
                "infons": {"section_type": "abstract"},
                "offset": 0,
                "text": "dorsal and ventral roots",
                "annotations": [{
                    "id": "A1",
                    "infons": {"type": "Anatomy"},
                    "text": "dorsal roots",
                    "locations": [
                        {"offset": 0, "length": 6},
                        {"offset": 19, "length": 5},
                    ],
                }],
            }],
        }],
    }]
    p = tmp_path / "bioc.jsonl"
    p.write_text(json.dumps(coll) + "\n")
    (row,) = read_bioc_annotations(spark, str(p)).collect()
    assert (row["start"], row["end"]) == (0, 24)


def test_parse_ls_json_preserves_unannotated_tasks(spark):
    """Unannotated LabelStudio tasks (empty annotations/result) keep their
    text row with null span columns instead of vanishing."""
    import json

    from otar3088_spark.sources.labelstudio import parse_ls_json

    lines = [
        json.dumps({"data": {"text": "unlabeled sentence"}, "annotations": [{"result": []}]}),
        json.dumps({
            "data": {"text": "HeLa grew"},
            "annotations": [{"result": [{
                "value": {"start": 0, "end": 4, "text": "HeLa", "labels": ["CellLine"]}
            }]}],
        }),
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = parse_ls_json(df).collect()
    by_text = {r["text"]: r for r in got}
    assert len(got) == 2
    assert by_text["unlabeled sentence"]["start"] is None
    assert by_text["HeLa grew"]["surface"] == "HeLa"


def test_snapshot_manifest_per_file_lineage(spark, tmp_path):
    """Manifest lineage is keyed by durable FILE, not read-split id: entries
    must name actual parquet files whose row counts sum to total_rows."""
    from otar3088_spark.io.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snap"))
    df = spark.range(100).selectExpr("cast(id as string) as conv_id", "id as turn_idx")
    man = store.write(df.repartition(4), "stage1")
    assert man["total_rows"] == 100
    assert man["n_partitions"] == len(man["partition_lineage"]) > 0
    data = tmp_path / "snap" / "stage1" / "data"
    on_disk = {p.name for p in data.glob("*.parquet")}
    for entry in man["partition_lineage"]:
        assert entry["file"] in on_disk
    assert sum(e["rows"] for e in man["partition_lineage"]) == 100


def test_parquet_footer_counts_match_spark(spark, tmp_path):
    """``parquet_num_rows`` reads ``FileMetaData.num_rows`` from the footer
    in Python. On Spark-written files it agrees, file by file, with a Spark
    count: nested struct, array and map columns, several row groups (a
    1 kB ``parquet.block.size``), and an output with zero rows."""
    import pyarrow.parquet as pq

    from otar3088_spark.io.checkpoint import parquet_num_rows

    nested = spark.range(3000).selectExpr(
        "id",
        "named_struct('a', id, 'b', named_struct('c', CAST(id AS STRING),"
        " 'd', array(id, id * 2))) AS s",
        "array(named_struct('k', CAST(id AS STRING)), named_struct('k', 'x')) AS arr",
        "map(CAST(id AS STRING), array(id), 'z', array(-1L)) AS m",
        "id % 2 = 0 AS flag",
        "id / 3 AS dbl",
        "CAST(id AS DECIMAL(20, 2)) AS dec",
    )
    nested.repartition(3).write.parquet(str(tmp_path / "nested"))
    nested.coalesce(1).write.option("parquet.block.size", 1024).parquet(str(tmp_path / "groups"))
    nested.where("id < 0").write.parquet(str(tmp_path / "empty"))

    totals = {}
    for case in ("nested", "groups", "empty"):
        files = sorted((tmp_path / case).glob("*.parquet"))
        assert files, case
        for f in files:
            assert parquet_num_rows(str(f)) == spark.read.parquet(str(f)).count(), f
        totals[case] = sum(parquet_num_rows(str(f)) for f in files)
    assert totals == {"nested": 3000, "groups": 3000, "empty": 0}
    (single,) = (tmp_path / "groups").glob("*.parquet")
    assert pq.ParquetFile(single).metadata.num_row_groups > 1


def test_parquet_footer_reader_rejects_broken_files(tmp_path):
    """A truncated file, a file that is not parquet, an empty file and a
    footer that ends before its row count raise instead of counting."""
    import pandas as pd
    import pytest

    from otar3088_spark.io.checkpoint import parquet_num_rows

    good = tmp_path / "good.parquet"
    pd.DataFrame({"a": range(10)}).to_parquet(good)
    assert parquet_num_rows(str(good)) == 10
    data = good.read_bytes()
    planted = {
        "truncated": data[:-5],
        "not parquet": b'{"a": 1}\n' * 20,
        "empty": b"",
        # magic and length intact, footer cut after field 1 (version)
        "short footer": b"PAR1" + b"\x15\x04" + (2).to_bytes(4, "little") + b"PAR1",
    }
    for name, body in planted.items():
        f = tmp_path / f"{name}.parquet"
        f.write_bytes(body)
        with pytest.raises(ValueError):
            parquet_num_rows(str(f))
