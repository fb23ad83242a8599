"""The CLI's replay/tail/scd2 blocks refuse keys they do not read: a
removed setting or a typo must not run the job with defaults."""

import json

import pytest

from datax_spark.cli import main


def _spec(tmp_path, block: str, extra: dict) -> str:
    body = {
        "events_root": str(tmp_path / "events"),
        "table_root": str(tmp_path / "table"),
        "metrics_root": str(tmp_path / "metrics"),
        "num_buckets": 4,
        **extra,
    }
    p = tmp_path / f"{block}.json"
    p.write_text(json.dumps({block: body}))
    return str(p)


@pytest.mark.parametrize("key", ["hash_fn", "aligned_exchange", "num_bukets"])
def test_replay_block_unknown_key_refused(spark, tmp_path, key):
    spec = _spec(tmp_path, "replay", {key: 1})
    with pytest.raises(ValueError, match=key):
        main(["--job", spec, "--dry-run"])


def test_tail_block_unknown_key_refused(spark, tmp_path):
    spec = _spec(tmp_path, "tail", {"bootstrap_servers": "127.0.0.1:1",
                                    "topic": "t", "max_round": 3})
    with pytest.raises(ValueError, match="max_round"):
        main(["--job", spec, "--dry-run"])


def test_replay_block_known_keys_run(spark, tmp_path, capsys):
    (tmp_path / "events").mkdir()
    spec = _spec(tmp_path, "replay", {"merge_strategy": "mor", "through_epoch": 3,
                                      "speed": {"record": 1000}})
    assert main(["--job", spec, "--dry-run"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "replay"


@pytest.mark.parametrize("key", ["strategy", "num_bukets"])
def test_scd2_block_unknown_key_refused(spark, tmp_path, key):
    spec = tmp_path / "scd2.json"
    spec.write_text(json.dumps({"scd2": {
        "events_root": str(tmp_path / "events"),
        "table_root": str(tmp_path / "table"),
        key: "mor",
    }}))
    with pytest.raises(ValueError, match=key):
        main(["--job", str(spec), "--dry-run"])
