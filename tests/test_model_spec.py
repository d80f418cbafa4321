"""The model seams name their model by a ``ModelSpec``: each Python worker
calls the factory once per spec, and the span stage of a spec-named scorer
keeps one name across interpreters. Planted: the factory in
``tests/scorer_factories.py`` stamps its worker's pid and a per-process
load counter into every label it emits."""

from __future__ import annotations

import os
import uuid
from collections import defaultdict

import pytest

from otar3088_spark.operators.inference import ModelSpec, model_classify, model_mentions
from tests.scorer_factories import spec


def _sentences(spark, n=64, parts=8):
    # a range scan keeps its 8 partitions: 8 seam tasks, no shuffle for AQE
    # to coalesce
    return spark.range(0, n, 1, parts).selectExpr(
        "CAST(id AS STRING) AS conv_id",
        "0 AS turn_idx",
        "CAST(id AS INT) AS sent_idx",
        "concat('sentence ', id) AS sent_text",
    )


def _load_ids(spark, model):
    """``{worker pid: {load id}}`` over the labels of one 8-task job."""
    rows = model_mentions(_sentences(spark), model).select("label").collect()
    assert len(rows) == 64
    by_pid = defaultdict(set)
    for (label,) in rows:
        by_pid[label.split(":")[0]].add(label)
    return by_pid


def test_model_loads_once_per_worker(spark):
    a = spec("stamped", tag=uuid.uuid4().hex)
    first = _load_ids(spark, a)
    assert first and all(len(ids) == 1 for ids in first.values()), dict(first)

    # the same spec again: every worker seen before still holds its model
    second = _load_ids(spark, a)
    assert all(len(ids) == 1 for ids in second.values()), dict(second)
    for pid in first.keys() & second.keys():
        assert second[pid] == first[pid], pid

    # a spec that differs only in its args is a different model
    b = spec("stamped", tag=uuid.uuid4().hex)
    assert b != a and b.factory == a.factory
    third = _load_ids(spark, b)
    assert all(len(ids) == 1 for ids in third.values()), dict(third)
    seen = set().union(*first.values(), *second.values())
    assert not seen & set().union(*third.values())


@pytest.mark.parametrize("seam", [model_mentions, model_classify])
def test_bare_callable_is_refused_on_the_driver(spark, job_count, seam):
    sents = _sentences(spark)

    def call():
        with pytest.raises(TypeError, match="ModelSpec"):
            seam(sents, lambda texts: [[] for _ in texts])

    _, jobs = job_count(call)
    assert jobs == 0


@pytest.mark.parametrize(
    "factory, args",
    [
        ("tests.scorer_factories:stamped", {"tag": {"not", "json"}}),
        ("tests.scorer_factories:stamped", {"tag": object()}),
        ("tests.scorer_factories:stamped", {1: "int key"}),
        ("tests.scorer_factories:stamped", ["not", "a", "mapping"]),
        ("tests.scorer_factories.stamped", {}),
        ("tests/scorer_factories.py:stamped", {}),
        (print, {}),
    ],
)
def test_malformed_spec_raises_type_error(factory, args):
    with pytest.raises(TypeError):
        ModelSpec(factory, args)


@pytest.mark.parametrize(
    "factory", ["tests.no_such_module:load", "tests.scorer_factories:no_such_factory"]
)
def test_factory_that_does_not_import_fails_the_action(spark, factory):
    with pytest.raises(Exception, match=factory):
        model_mentions(_sentences(spark, n=4, parts=1), ModelSpec(factory)).collect()


def test_spec_stage_name_is_pinned(spark):
    """The span-stage name of a spec-named scorer is a function of the
    spec's canonical key, so it is the same in every interpreter (this
    constant) and changes with the spec's args."""
    from otar3088_spark.functions.text import IRREGULAR_PLURALS
    from otar3088_spark.operators.tagging import PreparedDictionary, prepare_dictionary
    from otar3088_spark.plans.kg_pipeline import _span_stage_fingerprint
    from otar3088_spark.queries import KG_FIXTURE_DIR

    dictionary = spark.read.parquet(str(KG_FIXTURE_DIR / "dictionary.parquet"))
    pdict = PreparedDictionary.build(prepare_dictionary(dictionary), IRREGULAR_PLURALS)

    def name(model):
        return _span_stage_fingerprint(pdict, False, model, IRREGULAR_PLURALS)

    pinned = spec("stamped", tag="pinned")
    assert pinned.key == '["tests.scorer_factories:stamped",{"tag":"pinned"}]'
    assert name(pinned) == "c47614ce99d2"
    assert name(ModelSpec(pinned.factory, {"tag": "pinned"})) == name(pinned)
    assert name(spec("stamped", tag="other")) != name(pinned)


def test_spec_span_stage_resumes_without_loading(spark, transcripts_df, dictionary_df, tmp_path):
    """A second build over the same staging directory with the same spec
    resumes the committed span stage: the scorer is neither loaded nor
    called."""
    from otar3088_spark.plans.kg_pipeline import build_kg

    log, staging = tmp_path / "log", str(tmp_path / "stage")
    log.mkdir()
    model = spec("stamped", log=str(log))

    def build():
        res = build_kg(transcripts_df, dictionary_df, staging_dir=staging, model_scorer=model)
        return {tuple(r) for r in res.triples.select("subj", "pred", "obj").collect()}

    t1 = build()
    events = sorted(os.listdir(log))
    assert any(e.startswith("load-") for e in events)
    assert any(e.startswith("call-") for e in events)
    stages = [d for d in os.listdir(staging) if d.startswith("spans-")]
    assert len(stages) == 1

    assert build() == t1
    assert sorted(os.listdir(log)) == events
    assert [d for d in os.listdir(staging) if d.startswith("spans-")] == stages
