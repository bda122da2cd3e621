"""CLI verb dispatch (KinesisVcr.java:33-71 equivalent)."""

from __future__ import annotations

import pytest

from kinesis_vcr_spark.__main__ import _parse_range, main


def test_parse_range_date_and_datetime():
    start, end = _parse_range(["2024-01-01", "2024-01-02T06:30:00"], "play")
    assert start.isoformat() == "2024-01-01T00:00:00"
    assert end.isoformat() == "2024-01-02T06:30:00"


def test_parse_range_missing_end_defaults_later():
    start, end = _parse_range(["2024-01-01"], "play")
    assert end is None  # default_end applies downstream


def test_parse_range_bad_start_exits():
    with pytest.raises(SystemExit):
        _parse_range(["not-a-date"], "estimate")
    with pytest.raises(SystemExit):
        _parse_range([], "estimate")


def test_unknown_verb(monkeypatch):
    monkeypatch.setenv("VCR_BUCKET", "/tmp/nowhere")
    monkeypatch.setenv("VCR_SOURCE_STREAM", "events")
    assert main(["frobnicate"]) == 2


def test_estimate_manifest_flag_requires_path(monkeypatch):
    monkeypatch.setenv("VCR_BUCKET", "/tmp/nowhere")
    monkeypatch.setenv("VCR_SOURCE_STREAM", "events")
    from kinesis_vcr_spark.__main__ import main

    assert main(["estimate", "--manifest"]) == 2


def test_usage_error_paths_leave_session_conf_alone(spark, monkeypatch):
    """main() must not spin up (or mutate) Spark before arguments are
    validated: get_spark's builder.getOrCreate() on an existing session
    applies its conf as RUNTIME conf — an unknown-verb call used to
    flip spark.sql.shuffle.partitions for the rest of the session."""
    monkeypatch.setenv("VCR_BUCKET", "/tmp/nowhere")
    monkeypatch.setenv("VCR_SOURCE_STREAM", "events")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert main(["frobnicate"]) == 2
    assert main(["estimate", "--manifest"]) == 2
    with pytest.raises(SystemExit):
        main(["estimate", "not-a-date"])
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _describe(missing: str | None = None):
    """describe_stream factory: one open shard, or ``missing`` raises."""

    def describe_stream(StreamName, **_):
        if StreamName == missing:
            raise LookupError(f"Stream {StreamName} not found")
        return {"StreamDescription": {"Shards": [{"ShardId": "s0"}]}}

    return lambda: describe_stream


@pytest.fixture
def cli_env(spark, monkeypatch):
    """main() on the test session, with a fake control plane."""
    monkeypatch.setattr("kinesis_vcr_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("VCR_SOURCE_STREAM", "events")
    monkeypatch.setenv("VCR_TARGET_STREAM", "target")
    monkeypatch.setattr(
        "kinesis_vcr_spark.functions.estimate.boto3_describe_stream_factory",
        _describe(),
    )
    return monkeypatch


@pytest.mark.parametrize(
    "argv", [["estimate", "2024-01-01"], ["play", "2024-01-01"], ["record"]],
    ids=lambda a: a[0],
)
def test_missing_bucket_exits_2_before_any_job(
    cli_env, tmp_path, count_jobs, capsys, argv
):
    """X5 preflight (KinesisRecorder.java:38-40, KinesisPlayer.java:70-73):
    a mistyped bucket must not estimate or replay an empty range."""
    cli_env.setenv("VCR_BUCKET", str(tmp_path / "no-such-bucket"))

    def run():
        with pytest.raises(SystemExit) as exit_:
            main(argv)
        return exit_.value.code

    assert count_jobs(run) == (0, 2)
    assert "archive root does not exist" in capsys.readouterr().err


def test_play_missing_target_stream_exits_2(cli_env, tmp_path, count_jobs, capsys):
    """X5 preflight (KinesisPlayer.java:74-87): the target stream must
    exist before any record is read."""
    cli_env.setenv("VCR_BUCKET", str(tmp_path))
    cli_env.setattr(
        "kinesis_vcr_spark.functions.estimate.boto3_describe_stream_factory",
        _describe(missing="target"),
    )
    assert count_jobs(lambda: main(["play", "2024-01-01"])) == (0, 2)
    assert "Stream target not found" in capsys.readouterr().err


@pytest.mark.parametrize(
    "argv", [["estimate", "2024-01-01"], ["play", "2024-01-01"]],
    ids=lambda a: a[0],
)
def test_missing_stream_prefix_exits_2_before_any_job(
    cli_env, tmp_path, count_jobs, capsys, argv
):
    """An existing bucket without the source stream's prefix (a
    mistyped VCR_SOURCE_STREAM) must not estimate or replay an empty
    range: both verbs check the archive path, not just the bucket."""
    cli_env.setenv("VCR_BUCKET", str(tmp_path))

    def run():
        with pytest.raises(SystemExit) as exit_:
            main(argv)
        return exit_.value.code

    assert count_jobs(run) == (0, 2)
    err = capsys.readouterr().err
    assert "archive root does not exist" in err and "events" in err


def test_estimate_runs_after_preflight(cli_env, tmp_path, capsys):
    cli_env.setenv("VCR_BUCKET", str(tmp_path))
    (tmp_path / "events").mkdir()
    assert main(["estimate", "2024-01-01"]) == 0
    assert capsys.readouterr().out.startswith("Replaying 0 files (0 bytes)")
