"""The python -m billing_data_pipeline_spark CLI (engine __main__)."""

import json

from billing_data_pipeline_spark.__main__ import main

from .test_pipeline_e2e import _write_lake


def test_cli_run_and_insights(spark, tmp_path, capsys):
    lake, _n = _write_lake(tmp_path)
    wh = str(tmp_path / "wh")

    rc = main(["run", "--source", str(lake), "--warehouse", wh])
    assert rc == 0
    out, err = capsys.readouterr()
    metrics = json.loads(out)
    assert metrics["ingest"]["rows_appended"] > 0
    assert "daily_aggs_rows" in metrics["aggregates"]
    assert "Billing Insights" in err or "##" in err  # report on stderr

    rc = main(["insights", "--warehouse", wh])
    assert rc == 0
    out, err = capsys.readouterr()
    assert json.loads(out)  # metrics dict


def test_cli_curate_writes_deterministic_shards(spark, tmp_path, capsys):
    from .conftest import SF_SMOKE

    out1 = str(tmp_path / "corpus1")
    out2 = str(tmp_path / "corpus2")
    docs = f"{SF_SMOKE}/documents.parquet"
    for out in (out1, out2):
        rc = main(["curate", "--docs", docs, "--out", out, "--shards", "4"])
        assert rc == 0
    m1, m2 = (json.loads(line) for line in capsys.readouterr()[0].strip().splitlines())
    assert m1["chunks_written"] > 0 and m1["docs_kept"] <= m1["docs_in"]
    # conservation: shard manifest sums to the written totals
    assert sum(s["n_chunks"] for s in m1["shards"].values()) == m1["chunks_written"]
    assert sum(s["n_tokens"] for s in m1["shards"].values()) == m1["tokens_written"]
    # determinism: re-running produces the identical shard membership
    assert {k: v for k, v in m1["shards"].items()} == m2["shards"]
    # leakage-safe split labels: all chunks labeled, train dominates
    assert sum(m1["splits"].values()) == m1["chunks_written"]
    assert m1["splits"]["train"] == max(m1["splits"].values())
    assert m1["splits"] == m2["splits"]
    df1 = spark.read.parquet(out1).orderBy("doc_id", "chunk_idx")
    df2 = spark.read.parquet(out2).orderBy("doc_id", "chunk_idx")
    assert df1.collect() == df2.collect()


def test_curate_corpus_survives_everything_filtered(spark, tmp_path):
    """Zero surviving chunks (here: no docs in the requested language)
    must yield a zero-count metrics dict, not UNABLE_TO_INFER_SCHEMA from
    the empty partitioned write's read-back (review r4)."""
    from billing_data_pipeline_spark.curate import curate_corpus

    docs = spark.createDataFrame(
        [(1, "some english text here", "en")],
        "doc_id long, text string, lang string",
    )
    m = curate_corpus(spark, docs, str(tmp_path / "empty_corpus"), lang="xx")
    assert m["docs_in"] == 1
    assert m["docs_kept"] == 0
    assert m["chunks_written"] == 0 and m["tokens_written"] == 0
    assert m["shards"] == {} and m["splits"] == {}


def test_cli_stream_drains_lake(spark, tmp_path, capsys):
    lake, n = _write_lake(tmp_path)
    wh = str(tmp_path / "swh")
    rc = main(
        [
            "stream",
            "--source", lake,
            "--warehouse", wh,
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out, _ = capsys.readouterr()
    assert json.loads(out)["stream"] == "drained"
    assert spark.read.parquet(f"{wh}/raw_billing").count() == n


def _jit_policy_of_fresh_jvm(session_code: str, env: dict[str, str]) -> str:
    """driver_jit_policy of a local-mode JVM started by ``session_code``
    (which must bind ``spark``) in a fresh interpreter — the test session's
    own JVM is already running, so get_spark would hand it back."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from billing_data_pipeline_spark.session import driver_jit_policy\n"
        f"{session_code}\n"
        "print('JIT', driver_jit_policy(spark))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_MASTER": "", **env},
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("JIT ")]
    assert out.returncode == 0 and lines, out.stderr[-2000:]
    return lines[-1].split(" ", 1)[1]


def test_local_session_jvm_runs_c1_only(spark):
    """Every CLI command is one pass in a fresh local-mode JVM, so
    get_spark starts it with C2 off (session.LOCAL_DRIVER_JIT) — checked
    on the JVM's own command line, not on the conf that asked for it."""
    from billing_data_pipeline_spark.session import LOCAL_DRIVER_JIT, driver_jit_policy

    assert spark.sparkContext.master.startswith("local")
    assert driver_jit_policy(spark) == LOCAL_DRIVER_JIT == "-XX:TieredStopAtLevel=1"


def test_c1_only_survives_driver_java_options():
    """A launch that passes --driver-java-options (which REPLACES
    spark.driver.extraJavaOptions) must still get the C1-only policy: it
    rides spark.driver.defaultJavaOptions for exactly this reason."""
    policy = _jit_policy_of_fresh_jvm(
        "from billing_data_pipeline_spark.session import get_spark\n"
        "spark = get_spark(shuffle_partitions=2)",
        {
            "PYSPARK_SUBMIT_ARGS": '--driver-java-options "-XX:-UsePerfData" '
            "pyspark-shell"
        },
    )
    assert policy == "-XX:TieredStopAtLevel=1"


def test_bench_session_keeps_tiered_jit():
    """bench.py warms each query until its loops reach C2, so its session
    overrides the C1-only default; the policy it records in bench_detail
    (driver_jit_policy of bench_session) must be the tiered one."""
    from .conftest import SF_SMOKE

    policy = _jit_policy_of_fresh_jvm(
        f"import bench\nspark = bench.bench_session({SF_SMOKE!r})", {}
    )
    assert policy == "-XX:TieredStopAtLevel=4"


def test_one_pass_jit_conf_keeps_c1_for_small_inputs_only(tmp_path, monkeypatch):
    """A one-pass command keeps the C1-only default up to
    ONE_PASS_C1_MAX_BYTES of input (files and directories summed) and asks
    for the tiered JIT above it, or when an input cannot be sized locally."""
    from billing_data_pipeline_spark import session

    tiered = {"spark.driver.defaultJavaOptions": session.TIERED_DRIVER_JIT}
    (tmp_path / "lake" / "day=01").mkdir(parents=True)
    (tmp_path / "lake" / "day=01" / "billing.csv").write_bytes(b"x" * 600)
    (tmp_path / "docs.parquet").write_bytes(b"x" * 500)
    paths = [str(tmp_path / "lake"), str(tmp_path / "docs.parquet"), str(tmp_path / "absent")]
    monkeypatch.setattr(session, "ONE_PASS_C1_MAX_BYTES", 1100)
    assert session.one_pass_jit_conf(paths) == {}
    assert session.one_pass_jit_conf([f"file://{tmp_path}/lake"]) == {}
    monkeypatch.setattr(session, "ONE_PASS_C1_MAX_BYTES", 1099)
    assert session.one_pass_jit_conf(paths) == tiered
    assert session.one_pass_jit_conf(["s3a://bucket/lake"]) == tiered


def test_cli_sizes_jit_from_what_it_reads(tmp_path, monkeypatch):
    """Each CLI command hands get_spark the JIT conf for its own inputs:
    the source and warehouse of run/stream, the warehouse of insights, the
    docs of curate — not the checkpoint or the output."""
    from billing_data_pipeline_spark import session

    seen = []

    def fake_get_spark(app_name, extra_conf):
        seen.append(extra_conf)
        raise SystemExit(0)

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setattr(session, "one_pass_jit_conf", lambda paths: {"reads": paths})
    for argv in (
        ["run", "--source", "L", "--warehouse", "W"],
        ["insights", "--warehouse", "W"],
        ["stream", "--source", "L", "--warehouse", "W", "--checkpoint", "C"],
        ["curate", "--docs", "D", "--out", "O"],
    ):
        try:
            main(argv)
        except SystemExit:
            pass
    assert seen == [
        {"reads": ["L", "W"]},
        {"reads": ["W"]},
        {"reads": ["L", "W"]},
        {"reads": ["D"]},
    ]
