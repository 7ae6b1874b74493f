"""On a tiny corpus, the generator's ground truth equals what the engine
produces, both for the batch plan and for the full ``--batch`` service
path the benchmark times."""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.service import (
    check_service_output, run_pass, service_argv, summary_lines, write_chunks, write_conf,
    write_geo)
from perfbench.trace import Tracer

TINY = {"chunks_per_sensor": 2, "chunk_lines": 150, "n_addresses": 30}


@pytest.fixture(scope="module")
def spark():
    from takuan_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    from takuan_spark.config import load_config

    root = tmp_path_factory.mktemp("tiny")
    corpus = gen.log_corpus(42, **TINY)
    dirs = write_chunks(corpus, str(root / "in"))
    conf_path = write_conf(str(root / "takuan.yml"), dirs["ssh"], dirs["http"], 1)
    geo_dim = write_geo(spark, corpus.geo, str(root / "geo"))
    return corpus, load_config(conf_path), geo_dim, root


def test_ground_truth_report_equals_engine_report(spark, tiny):
    from takuan_spark.operators.reports import address_report, country_topk
    from takuan_spark.plans.compiler import compile_batch

    corpus, conf, geo_dim, _ = tiny
    events = compile_batch(spark, conf, geo_dim=geo_dim).cache()
    assert events.count() == corpus.truth.events
    got = [tuple(r) for r in address_report(events).collect()]
    assert got == gen.expected_report(corpus.truth.counts, corpus.geo)
    topk = [(r["country_code"], r["total_events"]) for r in country_topk(events).collect()]
    assert topk == gen.expected_topk(corpus.truth.counts, corpus.geo)
    events.unpersist()


def test_service_pass_matches_ground_truth(spark, tiny):
    corpus, _, _, root = tiny
    out = str(root / "out")
    argv = service_argv(str(root / "takuan.yml"), str(root / "geo"), out, 2)
    text, progress = run_pass(argv, Tracer(False))
    assert sum(p["numInputRows"] for p in progress) == corpus.truth.lines
    assert check_service_output(out, corpus.truth, corpus.geo, summary_lines(text)) == []
    # a wrong truth is caught
    wrong = gen.LogTruth(quarantine=corpus.truth.quarantine + 1,
                         counts=corpus.truth.counts)
    assert check_service_output(out, wrong, corpus.geo, summary_lines(text)) == [
        f"quarantine {corpus.truth.quarantine} != {corpus.truth.quarantine + 1}"]
