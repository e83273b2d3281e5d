"""Config-file layer (VERDICT r4 next-round #7): viper-parity
defaults-with-override — DEFAULTS < YAML < FEATHERSTORE_* env < CLI
flags — mirroring /root/reference/pkg/config/config.go:72-125."""

from __future__ import annotations

import pytest

from featherstore_spark.config import DEFAULTS, ConfigError, load_config


def test_defaults_without_file():
    cfg = load_config(env={})
    assert cfg == DEFAULTS
    assert cfg is not DEFAULTS and cfg["pipeline"] is not DEFAULTS["pipeline"]


def test_yaml_overrides_defaults_deep_merge(tmp_path):
    p = tmp_path / "engine.yaml"
    p.write_text(
        "pipeline:\n  n_buckets: 256\n"
        "serving:\n  http_port: 9000\n"
        "spark:\n  conf:\n    spark.sql.shuffle.partitions: '64'\n"
    )
    cfg = load_config(str(p), env={})
    assert cfg["pipeline"]["n_buckets"] == 256
    assert cfg["pipeline"]["trailing"] == "10 minutes"  # untouched sibling
    assert cfg["serving"]["http_port"] == 9000
    assert cfg["serving"]["flight_port"] == 8081
    assert cfg["spark"]["conf"] == {"spark.sql.shuffle.partitions": "64"}


def test_env_overrides_yaml_with_type_coercion(tmp_path):
    p = tmp_path / "engine.yaml"
    p.write_text("pipeline:\n  n_buckets: 256\nmetrics:\n  enabled: true\n")
    cfg = load_config(str(p), env={
        "FEATHERSTORE_PIPELINE_N_BUCKETS": "512",
        "FEATHERSTORE_METRICS_ENABLED": "false",
        "FEATHERSTORE_SERVING_HTTP_PORT": "7070",
        "UNRELATED_VAR": "ignored",
    })
    assert cfg["pipeline"]["n_buckets"] == 512
    assert cfg["metrics"]["enabled"] is False
    assert cfg["serving"]["http_port"] == 7070


def test_missing_explicit_file_and_bad_section_fail_loudly(tmp_path):
    with pytest.raises(ConfigError, match="not found"):
        load_config(str(tmp_path / "nope.yaml"), env={})
    p = tmp_path / "bad.yaml"
    p.write_text("pipeline: 42\n")
    with pytest.raises(ConfigError, match="must be a mapping"):
        load_config(str(p), env={})


def test_cli_config_seeds_parser_defaults_but_flags_win(tmp_path):
    from featherstore_spark.cli import _build_parser, _scan_config_path

    p = tmp_path / "engine.yaml"
    p.write_text("pipeline:\n  n_buckets: 256\n  asof_strategy: bucketed\n")
    argv = ["--config", str(p), "materialize", "--input", "i", "--output", "o",
            "--n-buckets", "8"]
    cfg = load_config(_scan_config_path(argv), env={})
    args = _build_parser(cfg).parse_args(argv)
    assert args.n_buckets == 8                 # explicit flag beats YAML
    assert args.asof_strategy == "bucketed"    # YAML beats built-in default
    assert args.trailing == "10 minutes"       # built-in default survives
    assert _scan_config_path(["--config=" + str(p), "serve"]) == str(p)
    assert _scan_config_path(["materialize"]) is None


def test_cli_rejects_removed_asof_strategy_from_config(tmp_path, capsys):
    """A config still naming the removed ``cogroup`` strategy fails at
    parse time with the valid list — argparse alone never checks a
    default against ``choices``."""
    from featherstore_spark.cli import main

    p = tmp_path / "engine.yaml"
    p.write_text("pipeline:\n  asof_strategy: cogroup\n")
    with pytest.raises(SystemExit) as exc:
        main(["--config", str(p), "materialize", "--input", "i", "--output", "o"])
    assert exc.value.code == 2
    assert "'cogroup' is not one of window, bucketed" in capsys.readouterr().err


def test_cli_serve_starts_both_transports(tmp_path):
    """`featherstore_spark serve` wires Flight + HTTP over ONE store:
    requests over either transport land in the same metrics registry."""
    import json
    import urllib.request

    from featherstore_spark.cli import start_servers
    from featherstore_spark.sources.flight import FeatureFlightClient

    fsrv, hsrv = start_servers(str(tmp_path / "root"))
    import threading

    threading.Thread(target=hsrv.serve_forever, daemon=True).start()
    try:
        client = FeatureFlightClient(f"grpc://127.0.0.1:{fsrv.port}")
        client.create_feature_set(
            "s",
            {"schema": {"type": "struct", "fields": [
                {"name": "conv_id", "type": "string", "nullable": False, "metadata": {}},
                {"name": "ts", "type": "timestamp", "nullable": False, "metadata": {}},
            ]}, "entity_col": "conv_id", "ts_col": "ts"},
        )
        port = hsrv.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/feature-sets") as r:
            assert json.loads(r.read().decode()) == ["s"]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            assert "featherstore_requests_total" in r.read().decode()
    finally:
        hsrv.shutdown()
        fsrv.shutdown()


def test_cli_config_accepted_after_subcommand(tmp_path):
    """r5 review: --config is pre-scanned position-independently, so the
    subparsers must accept it too — `materialize ... --config x.yaml`
    must parse, not die on 'unrecognized arguments'."""
    from featherstore_spark.cli import _build_parser, _scan_config_path

    p = tmp_path / "e.yaml"
    p.write_text("pipeline:\n  n_buckets: 256\n")
    argv = ["materialize", "--input", "a", "--output", "b", "--config", str(p)]
    cfg = load_config(_scan_config_path(argv), env={})
    args = _build_parser(cfg).parse_args(argv)
    assert args.n_buckets == 256
