"""spark-submit entrypoint (north rule: ships as a spark-submit
--py-files package).

Usage (cluster):
    zip -r featherstore_spark.zip featherstore_spark
    spark-submit --py-files featherstore_spark.zip \\
        featherstore_spark/cli.py materialize \\
        --input /data/transcripts --output /data/features \\
        --spine /data/spine --n-buckets 256 --resume

Subcommands:
    materialize  transcripts -> per-turn feature log (optionally as-of
                 joined to a spine), checkpointed per bucket, resumable
    generate     deterministic synthetic transcript corpus (FIXTURES.md)

In local runs the module builds its own SparkSession; under spark-submit
the session comes from the launcher (getOrCreate picks up the submit
conf — master/executors/memory are owned by spark-submit, not this code).
"""

from __future__ import annotations

import argparse
import json
import sys

from featherstore_spark.operators.asof import STRATEGIES


def _build_parser(cfg: dict) -> argparse.ArgumentParser:
    """Parser with defaults drawn from the resolved config (config.py):
    DEFAULTS < --config YAML < FEATHERSTORE_* env < explicit CLI flags —
    the reference's viper precedence with argv as the final layer."""
    pipe, store, serve_cfg = cfg["pipeline"], cfg["storage"], cfg["serving"]
    p = argparse.ArgumentParser(prog="featherstore_spark")
    p.add_argument("--config", default=None,
                   help="YAML deployment profile (see featherstore_spark/config.py)")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_parser(name, **kw):
        # --config is pre-scanned position-independently (it must seed
        # THIS parse's defaults), so every subparser must also accept it
        # — otherwise `materialize ... --config x.yaml` would load the
        # file and then die on 'unrecognized arguments' (r5 review)
        sp = sub.add_parser(name, **kw)
        sp.add_argument("--config", default=None, help=argparse.SUPPRESS)
        return sp

    m = add_parser("materialize", help="materialize per-turn features")
    m.add_argument("--input", required=True, help="transcript table path (parquet)")
    m.add_argument("--output", required=True, help="feature table output path")
    m.add_argument("--spine", help="optional spine table path -> point-in-time vectors")
    m.add_argument("--trailing", default=pipe["trailing"])
    m.add_argument("--session-gap", default=pipe["session_gap"])
    m.add_argument("--asof-strategy", default=pipe["asof_strategy"], choices=STRATEGIES)
    m.add_argument("--asof-bucket", default=pipe["asof_bucket"])
    m.add_argument("--n-buckets", type=int, default=pipe["n_buckets"])
    m.add_argument("--resume", action="store_true", help="skip buckets already checkpointed")
    m.add_argument("--verify", action="store_true",
                   help="audit mode: read the written partitions back and cross-check "
                        "row counts + content hashes against the in-job observed stats")
    m.add_argument("--format", choices=["parquet", "iceberg"], default=store["format"],
                   help="output format (default: auto-detect Iceberg extensions)")
    m.add_argument("--manifest-dir", default=None,
                   help="manifest directory (required with --format iceberg, where "
                        "--output is a table identifier)")

    g = add_parser("generate", help="generate a synthetic transcript corpus")
    g.add_argument("--output", required=True)
    g.add_argument("--n-convs", type=int, default=2000)
    g.add_argument("--mean-turns", type=int, default=30)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--skew", action="store_true")

    c = add_parser("corpus", help="clean/filter/dedup/redact/split a document corpus")
    c.add_argument("--input", required=True, help="document table path (parquet)")
    c.add_argument("--output", required=True, help="clean corpus output path")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--stages", default="c4,repetition,quality",
                   help="comma list of heuristic filters to apply "
                        "(c4,repetition,quality); dedup/PII/split always run")
    c.add_argument("--target-langs", default=None,
                   help="comma list (en,de,…): keep only docs lang_id classifies "
                        "into these languages")
    c.add_argument("--near-dup", choices=["minhash", "none"], default="minhash")
    c.add_argument("--substring-dedup", action="store_true",
                   help="also cut duplicated 40+-char runs from surviving docs "
                        "(ExactSubstr boilerplate scrub)")
    c.add_argument("--substring-min-len", type=int, default=40)
    c.add_argument("--minhash-threshold", type=float, default=0.9)
    c.add_argument("--quality-threshold", type=float, default=-0.2)
    c.add_argument("--split-weights", default="0.98,0.01,0.01")
    c.add_argument("--split-names", default="train,val,test")
    c.add_argument("--seed", type=int, default=42)

    s = add_parser("serve", help="serve feature sets over Arrow Flight + HTTP")
    s.add_argument("--root", default=serve_cfg["root"], help="catalog root directory")
    s.add_argument("--http-port", type=int, default=serve_cfg["http_port"])
    s.add_argument("--flight-port", type=int, default=serve_cfg["flight_port"])
    s.add_argument("--host", default="127.0.0.1")
    return p


def _scan_config_path(argv: list[str]) -> str | None:
    """Pre-scan for --config so the file can seed parser DEFAULTS (the
    flag must influence the defaults of the very parse that consumes it)."""
    for i, a in enumerate(argv):
        if a == "--config":
            return argv[i + 1] if i + 1 < len(argv) else None
        if a.startswith("--config="):
            return a.split("=", 1)[1]
    return None


def start_servers(root: str, host: str = "127.0.0.1", http_port: int = 0,
                  flight_port: int = 0):
    """(flight_server, http_server) over one shared ServingStore — both
    transports serve byte-identical rows and share the metrics registry.
    Separated from main() so tests/embedders can start and shut down the
    pair without blocking on serve_forever."""
    from featherstore_spark.sources.flight import serve as flight_serve
    from featherstore_spark.sources.http_api import make_server

    fsrv = flight_serve(root, host=host, port=flight_port)
    hsrv = make_server(root, host=host, port=http_port)
    # one store, one metrics registry: HTTP /metrics reflects Flight ops too
    hsrv.RequestHandlerClass.store = fsrv.store
    return fsrv, hsrv


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    from featherstore_spark.config import load_config

    cfg = load_config(_scan_config_path(argv))
    parser = _build_parser(cfg)
    args = parser.parse_args(argv)
    # argparse never checks a default against ``choices``: a strategy named
    # only in the config (e.g. the removed ``cogroup``) is rejected here,
    # before any Spark work
    if args.cmd == "materialize" and args.asof_strategy not in STRATEGIES:
        parser.error(f"asof_strategy {args.asof_strategy!r} is not one of {', '.join(STRATEGIES)}")

    if args.cmd == "serve":
        # zero-Spark path: serving must never launch (or depend on) a session
        fsrv, hsrv = start_servers(
            args.root, host=args.host,
            http_port=args.http_port, flight_port=args.flight_port,
        )
        import threading

        threading.Thread(target=hsrv.serve_forever, daemon=True).start()
        print(json.dumps({
            "serving": args.root,
            "flight_port": fsrv.port,
            "http_port": hsrv.server_address[1],
        }), flush=True)
        fsrv.serve()  # blocks until shutdown
        return 0

    from featherstore_spark.session import get_spark

    extra_conf = dict(cfg["spark"]["conf"])
    if cfg["storage"]["compression"]:
        extra_conf.setdefault(
            "spark.sql.parquet.compression.codec", cfg["storage"]["compression"]
        )
    spark = get_spark(
        master=cfg["spark"]["master"],
        app_name=f"{cfg['spark']['app_name']}_{args.cmd}",
        shuffle_partitions=cfg["spark"]["shuffle_partitions"],
        extra_conf=extra_conf,
    )

    if args.cmd == "generate":
        from featherstore_spark.datagen import generate_transcripts

        df = generate_transcripts(
            spark, n_convs=args.n_convs, mean_turns=args.mean_turns,
            seed=args.seed, skew=args.skew,
        )
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output, "rows": spark.read.parquet(args.output).count()}))
        return 0

    if args.cmd == "corpus":
        from featherstore_spark.plans.corpus import corpus_pipeline

        docs = spark.read.parquet(args.input)
        out, stats = corpus_pipeline(
            docs,
            id_col=args.id_col,
            text_col=args.text_col,
            stages=tuple(s for s in args.stages.split(",") if s),
            target_langs=(
                tuple(args.target_langs.split(",")) if args.target_langs else None
            ),
            near_dup=args.near_dup,
            substring_dedup=args.substring_dedup,
            substring_min_len=args.substring_min_len,
            minhash_threshold=args.minhash_threshold,
            quality_threshold=args.quality_threshold,
            split_weights=tuple(float(w) for w in args.split_weights.split(",")),
            split_names=tuple(args.split_names.split(",")),
            seed=args.seed,
        )
        # split is the partition column: downstream loaders read ONE
        # split dir without scanning the others (partition pruning)
        out.write.mode("overwrite").partitionBy("split").parquet(args.output)
        print(json.dumps({"output": args.output, **stats}))
        return 0

    # materialize
    from featherstore_spark.operators.asof import asof_join, auto_bucket_width_us
    from featherstore_spark.plans.checkpoint import CheckpointManifest, run_with_checkpoint
    from featherstore_spark.plans.materialize import FEATURE_COLS, build_feature_log
    from featherstore_spark.sources.io import table_format

    # Resolve the output format ONCE: run_with_checkpoint auto-detects
    # Iceberg when --format is omitted, so the clean-run clearing below
    # must branch on the SAME resolved value — keying on args.format alone
    # would route auto-detected Iceberg through the parquet branch, where
    # clear_stale_output on a table identifier is a silent no-op and a
    # "clean" run would resume from stale buckets (ADVICE r3).
    fmt = args.format or table_format(spark)

    transcripts = spark.read.parquet(args.input)
    lineage = {
        "input": args.input,
        "spine": args.spine,
        "params": {
            "trailing": args.trailing,
            "session_gap": args.session_gap,
            "n_buckets": args.n_buckets,
            "asof_strategy": args.asof_strategy,
        },
    }
    ckpt_kwargs = {
        "n_buckets": args.n_buckets,
        "verify": args.verify,
        "output_format": fmt,
        "manifest_dir": args.manifest_dir,
    }
    if not args.resume:
        # clean run: discard prior manifest AND data — dynamic overwrite
        # only replaces buckets present in this run, so a leftover bucket
        # from an older input would otherwise survive.  Both clearers
        # refuse paths this engine did not write (ADVICE r2/r3).
        if fmt == "iceberg":
            from featherstore_spark.plans.checkpoint import clear_manifest_dir

            spark.sql(f"DROP TABLE IF EXISTS {args.output}")
            if args.manifest_dir:
                clear_manifest_dir(args.manifest_dir)
        else:
            from featherstore_spark.plans.checkpoint import clear_stale_output

            clear_stale_output(args.output)

    if args.spine is None:
        metrics = run_with_checkpoint(
            transcripts,
            args.output,
            lineage,
            pipeline=lambda t: build_feature_log(t, args.trailing, args.session_gap),
            **ckpt_kwargs,
        )
        print(json.dumps({"output": args.output, **metrics}))
        return 0

    # spine path: point-in-time vectors, checkpointed per bucket exactly
    # like the feature log (both sides bucket-filtered on resume)
    spine = spark.read.parquet(args.spine)

    asof_bucket = args.asof_bucket
    cache_width_after_run = None
    if args.asof_strategy == "bucketed" and asof_bucket == "auto":
        # Resolve the auto width ONCE per materialization (VERDICT r3 #6):
        # the density stat is over (conv_id, ts) of the raw transcripts —
        # the feature log is row-for-row the same grain — and it is cached
        # in the checkpoint manifest, so a resumed run re-reads the stat
        # instead of re-running the aggregation job.  Lineage-scoped: any
        # input/params change discards it with the manifest.
        manifest = CheckpointManifest(args.manifest_dir or args.output, lineage)
        width = None if manifest.lineage_changed else manifest.get_stat("asof_width_us")
        if width is None:
            width = auto_bucket_width_us(transcripts, on="conv_id", ts="ts")
            # On a lineage CHANGE the stat cannot be written yet (flushing
            # the new-lineage state now would mask the change from
            # run_with_checkpoint's stale-data clearing) — it is cached
            # into the post-run manifest below, so the NEXT resume still
            # skips the stats job.
            if manifest.lineage_changed:
                cache_width_after_run = int(width)
            else:
                manifest.set_stat("asof_width_us", width)
        asof_bucket = int(width)

    def pit_pipeline(t, s):
        log = build_feature_log(t, args.trailing, args.session_gap)
        feats = log.select("conv_id", "ts", "turn_idx", *FEATURE_COLS)
        return asof_join(
            s, feats, on="conv_id", ts="ts", tiebreaks=("turn_idx",),
            strategy=args.asof_strategy, bucket=asof_bucket,
        )

    metrics = run_with_checkpoint(
        transcripts,
        args.output,
        lineage,
        pipeline=pit_pipeline,
        spine=spine,
        **ckpt_kwargs,
    )
    if cache_width_after_run is not None:
        # the run reset the manifest to the new lineage; attach the stat
        CheckpointManifest(args.manifest_dir or args.output, lineage).set_stat(
            "asof_width_us", cache_width_after_run
        )
    print(json.dumps({"output": args.output, **metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
