"""YAML job-config surface (reference: internal/config/config.go LoadConfig
+ typed-section factory) and the now-real RetryPolicy on the push drainer."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from vectrain_spark.config import (
    ConfigError,
    RetryPolicy,
    config_from_dict,
    load_config,
    parse_duration,
)
from vectrain_spark.push import PushGateway

VALID = {
    "app": {
        "name": "kg-demo",
        "logging": {"level": "warn"},
        "monitoring": {"enabled": True, "port": 9200},
        "retry_policy": {"max_retries": 2, "backoff": "50ms"},
    },
    "source": {"type": "generate", "n_pages": 100},
    "sink": {"out": "/tmp/kg_demo"},
    "pipeline": {"n_groups": 2, "max_concurrent_groups": 1},
    "spark": {"shuffle_partitions": 8, "conf": {"spark.sql.adaptive.enabled": "true"}},
}


def test_valid_config_round_trip():
    job = config_from_dict(VALID)
    assert job.name == "kg-demo"
    assert job.log_level == "warn"
    assert job.monitoring_enabled and job.monitoring_port == 9200
    assert job.retry_policy == RetryPolicy(max_retries=2, backoff_sec=0.05)
    assert job.retry_policy.delays() == [0.05, 0.1]
    assert job.source.type == "generate" and job.source.n_pages == 100
    assert job.sink.out == "/tmp/kg_demo"
    assert job.pipeline.n_groups == 2
    assert job.pipeline.max_concurrent_groups == 1
    # untouched pipeline knobs keep their engine defaults
    assert job.pipeline.dim > 0
    assert job.spark.shuffle_partitions == 8


def test_example_config_loads():
    import os

    job = load_config(
        os.path.join(os.path.dirname(__file__), "..", "job.example.yaml")
    )
    assert job.name == "kg-demo"
    assert job.source.type == "generate"
    assert job.pipeline.max_concurrent_groups == 1


def test_group_concurrency_stays_derived_unless_given():
    """Leaving out max_concurrent_groups (YAML key or CLI flag) keeps the
    None default that run_pipeline derives from the input; a given value
    is kept, and a CLI flag wins over the job file."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "main", os.path.join(os.path.dirname(__file__), "..", "main.py")
    )
    main = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(main)

    job = config_from_dict({**VALID, "pipeline": {"n_groups": 2}})
    assert job.pipeline.max_concurrent_groups is None
    base = ["--generate", "10", "--out", "kg_out"]
    cli = main.parse_args(base)
    assert main.pipeline_config(cli).max_concurrent_groups is None
    assert main.pipeline_config(cli).n_groups == 8
    assert main.pipeline_config(cli, job).max_concurrent_groups is None
    cli = main.parse_args(base + ["--max-concurrent-groups", "3"])
    assert main.pipeline_config(cli).max_concurrent_groups == 3
    assert main.pipeline_config(cli, config_from_dict(VALID)).max_concurrent_groups == 3
    assert main.pipeline_config(main.parse_args(base), config_from_dict(VALID)) == (
        config_from_dict(VALID).pipeline
    )


def test_duration_parsing():
    assert parse_duration("500ms") == pytest.approx(0.5)
    assert parse_duration("2s") == 2.0
    assert parse_duration("1m") == 60.0
    assert parse_duration("0.5h") == 1800.0
    assert parse_duration(3) == 3.0
    with pytest.raises(ConfigError, match="invalid duration"):
        parse_duration("2 fortnights")
    with pytest.raises(ConfigError, match="invalid duration"):
        parse_duration("-1s")


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: d["app"].pop("name"), "missing required app.name"),
        (lambda d: d["app"]["logging"].update(level="verbose"), "invalid app.logging.level"),
        (lambda d: d["source"].update(type="kafka2"), "invalid source type: kafka2"),
        (lambda d: d["source"].update(type="parquet"), "requires path"),
        (lambda d: d["source"].update(n_pages=0), "requires n_pages"),
        (lambda d: d["sink"].pop("out"), "missing required sink.out"),
        (lambda d: d["pipeline"].update(workers=9), "unknown keys \\['workers'\\]"),
        (lambda d: d["app"]["retry_policy"].update(backoff="fast"), "invalid app.retry_policy.backoff"),
        (lambda d: d["spark"].update(batch_size=1), "unknown keys \\['batch_size'\\]"),
    ],
)
def test_invalid_configs_fail_like_the_reference(mutate, msg):
    import copy

    data = copy.deepcopy(VALID)
    mutate(data)
    with pytest.raises(ConfigError, match=msg):
        config_from_dict(data)


def _fill(gw: PushGateway, n: int) -> None:
    for i in range(n):
        assert gw.push({"url": f"u{i}", "html": b"<p>ok</p>"})[0] == 202


def test_drainer_retries_transient_write_failure(tmp_path, monkeypatch):
    gw = PushGateway(
        str(tmp_path / "pages"),
        batch_size=4,
        retry_policy=RetryPolicy(max_retries=3, backoff_sec=0.0),
    )
    _fill(gw, 4)
    real = PushGateway._write_batch
    calls = {"n": 0}

    def flaky(self, batch):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("disk hiccup")
        return real(self, batch)

    monkeypatch.setattr(PushGateway, "_write_batch", flaky)
    assert gw.drain() == 1  # recovered within policy
    s = gw.stats()
    assert s["write_retries"] == 2
    assert s["write_failures"] == 0
    assert s["files_written"] == 1
    files = [p for p in (tmp_path / "pages").iterdir() if p.suffix == ".parquet"]
    assert sum(pq.read_table(f).num_rows for f in files) == 4


def test_drainer_requeues_batch_after_retry_exhaustion(tmp_path, monkeypatch):
    gw = PushGateway(
        str(tmp_path / "pages"),
        batch_size=4,
        retry_policy=RetryPolicy(max_retries=2, backoff_sec=0.0),
    )
    _fill(gw, 6)

    def broken(self, batch):
        raise OSError("sink down")

    real = PushGateway._write_batch
    monkeypatch.setattr(PushGateway, "_write_batch", broken)
    assert gw.drain(force=True) == 0
    s = gw.stats()
    assert s["write_failures"] == 1
    assert s["write_retries"] == 2
    # the failed batch went BACK to the front: nothing dropped, order kept
    assert gw.pending() == 6
    assert gw._q[0]["url"] == "u0"
    # sink recovers -> everything lands exactly once
    monkeypatch.setattr(PushGateway, "_write_batch", real)
    assert gw.drain(force=True) == 2
    files = [p for p in (tmp_path / "pages").iterdir() if p.suffix == ".parquet"]
    assert sum(pq.read_table(f).num_rows for f in files) == 6
    assert gw.pending() == 0
