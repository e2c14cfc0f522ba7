"""Source/sink tests (SURVEY.md §2.1): JSONL wire shape round-trip and
the real reference data file as an integration input."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.kernels import classify_completion, merge_system_turn, render_chat_template, split_completion
from ocr_spark.pipeline import extract_turns
from ocr_spark.sources import (
    load_conversations_jsonl,
    read_csv_checked,
    write_conversations_jsonl,
)

REFERENCE_JSONL = "/root/reference/data__/locations/valid.jsonl"


@pytest.fixture()
def jsonl_file(tmp_path):
    p = tmp_path / "convs.jsonl"
    rows = [
        {"messages": [
            {"role": "system", "content": "You are a geography assistant."},
            {"role": "user", "content": f"Question {i}?"},
            {"role": "assistant", "content": f"{(i % 90 + 10) * 100} km"},
        ]}
        for i in range(25)
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


def test_load_jsonl_canonical_shape(spark, jsonl_file):
    t = load_conversations_jsonl(spark, jsonl_file)
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.count() == 75
    # conv_id = prefix + 16-hex file hash + 8-digit line; line 0 of the
    # single file is the lexicographic minimum
    first_id = t.agg(F.min("conv_id")).collect()[0][0]
    assert first_id.endswith("00000000") and len(first_id) == len("conv") + 24
    first = t.filter(F.col("conv_id") == first_id).orderBy("turn_idx").collect()
    assert [r["role"] for r in first] == ["system", "user", "assistant"]
    assert first[1]["text"] == "Question 0?"


def test_load_jsonl_multi_file_ids_unique(spark, tmp_path):
    """Two part files with identical line numbers must NOT collide on
    conv_id (the id folds in the file identity, not just the per-file
    line offset)."""
    d = tmp_path / "parts"
    d.mkdir()
    for part in range(2):
        with open(d / f"part-{part}.jsonl", "w") as f:
            for i in range(3):
                f.write(json.dumps({"messages": [
                    {"role": "user", "content": f"p{part} q{i}"},
                    {"role": "assistant", "content": f"p{part} a{i}"},
                ]}) + "\n")
    t = load_conversations_jsonl(spark, str(d))
    assert t.count() == 12
    assert t.select("conv_id").distinct().count() == 6
    # each conversation keeps exactly its own two turns
    per_conv = t.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        F.count_distinct("turn_idx").alias("n_idx"),
    ).collect()
    assert all(r["n"] == 2 and r["n_idx"] == 2 for r in per_conv)


def test_jsonl_roundtrip(spark, jsonl_file, tmp_path):
    t = load_conversations_jsonl(spark, jsonl_file)
    out = str(tmp_path / "out_jsonl")
    write_conversations_jsonl(t, out)
    back = load_conversations_jsonl(spark, out)

    def conv_multiset(df):
        """conv ids are re-derived per output file on re-read, so
        compare the multiset of ordered conversations, not ids."""
        convs = {}
        for r in df.collect():
            convs.setdefault(r["conv_id"], []).append(
                (r["turn_idx"], r["role"], r["text"]))
        return sorted(tuple(sorted(v)) for v in convs.values())

    assert conv_multiset(t) == conv_multiset(back)


def test_csv_schema_assert(spark, tmp_path):
    p = tmp_path / "q.csv"
    p.write_text("question_template,category\nWhat is {blank}?,geo\n")
    df = read_csv_checked(spark, str(p), ["question_template", "category"])
    assert df.count() == 1
    with pytest.raises(ValueError, match="missing required columns"):
        read_csv_checked(spark, str(p), ["question_template", "answer_paris"])


@pytest.mark.skipif(not os.path.exists(REFERENCE_JSONL), reason="reference data absent")
def test_reference_jsonl_end_to_end(spark):
    """The real reference corpus through S1 + the flagship pipeline:
    same direction/distance split the reference's tighten_mask sees
    (520/525 over 1045 conversations)."""
    ex = extract_turns(load_conversations_jsonl(spark, REFERENCE_JSONL))
    counts = {
        r["block_class"]: r["n"]
        for r in ex.filter(F.col("role") == "assistant")
        .groupBy("block_class").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"direction": 520, "distance": 525}
    assert ex.filter(F.col("status") == "fallback").count() == 0


@pytest.mark.skipif(not os.path.exists(REFERENCE_JSONL), reason="reference data absent")
def test_reference_jsonl_matches_pure_kernels(spark):
    """Spark S1 loader + pipeline == pure-Python kernel drive over the
    same file (the per-turn text-equality contract on REAL data)."""
    ex = extract_turns(load_conversations_jsonl(spark, REFERENCE_JSONL))
    got = {}
    for r in ex.filter(F.col("role") == "assistant").collect():
        got[r["clean_text"]] = (r["block_class"], r["status"])

    with open(REFERENCE_JSONL) as f:
        for line in f:
            msgs = json.loads(line)["messages"]
            if msgs[0]["role"] == "system":
                merged = merge_system_turn(msgs[0]["content"], msgs[1]["content"])
                msgs = [{"role": "user", "content": merged}] + msgs[2:]
            rendered = render_chat_template(msgs)
            _, completion = split_completion(rendered)
            cls, ok = classify_completion(completion)
            text = msgs[-1]["content"]
            assert text in got, f"assistant turn missing: {text[:60]}"
            assert got[text][0] == cls


def test_load_feature_explanations_local(spark, tmp_path):
    """S9 connector on a local JSON export: declared schema, index ->
    feature rename, lowercased description (reference kl.py:458-475)."""
    from ocr_spark.sources import load_feature_explanations

    p = tmp_path / "explanations.jsonl"
    rows = [
        {"modelId": "gemma-2-9b", "layer": "12-gemmascope-res-16k",
         "index": "101", "description": "Mentions of CITY Names",
         "typeName": "oai_token-act-pair"},
        {"modelId": "gemma-2-9b", "layer": "12-gemmascope-res-16k",
         "index": "7", "description": "Cardinal DIRECTIONS"},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    df = load_feature_explanations(spark, str(p))
    assert df.columns == ["modelId", "layer", "feature", "description"]
    got = {r["feature"]: r["description"] for r in df.collect()}
    assert got == {"101": "mentions of city names", "7": "cardinal directions"}

    # dimension-table consumer shape: description-contains theta-join (J3)
    hits = df.filter(F.col("description").contains("city")).count()
    assert hits == 1


def test_load_var_dict(tmp_path):
    from ocr_spark.sources import load_var_dict
    p = tmp_path / "cfg.yaml"
    p.write_text("dataset:\n  var_dict:\n    couhpa: add_5\n    zwagvb: mod_3\n")
    assert load_var_dict(str(p)) == {"couhpa": "add_5", "zwagvb": "mod_3"}
