"""Worker-import contract, checked from OUTSIDE the repo.

A driver may build a vanilla SparkSession in any working directory, with
no ``PYTHONPATH`` reaching this package. UDF bodies pickle module-level
helpers by reference, so Python workers must be able to ``import
yark_spark`` anyway: the package ships to them as a zip
(``session.ship_package``). The child process below starts from a temp
dir with ``PYTHONPATH`` unset and only the repo root on its own
``sys.path``; its Python workers therefore see no repo at all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = textwrap.dedent(
    """
    import json, sqlite3, sys
    sys.path.insert(0, sys.argv[1])
    sf_dir, db_path = sys.argv[2], sys.argv[3]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out = {}

    # 1. executor-side sink: the foreachPartition closure calls the
    #    module-level _coerce_row on the workers
    print("STEP db_sink.write_partitioned", flush=True)
    from yark_spark.operators.db_sink import apply_schema, write_partitioned

    conn = sqlite3.connect(db_path)
    apply_schema(conn)
    conn.close()
    rows = spark.range(0, 50).select(
        F.col("id").alias("history_id"),
        F.concat(F.lit("v"), (F.col("id") % 20).cast("string")).alias("video"),
        (F.col("id") * 60).alias("watched"),
    )
    write_partitioned(
        lambda: sqlite3.connect(db_path, timeout=60), rows.repartition(2), "history"
    )
    with sqlite3.connect(db_path) as c:
        out["db_rows"] = c.execute("SELECT count(*) FROM history").fetchone()[0]

    # 2. registry keys through the driver entry point, against DuckDB
    import duckdb
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    for key in ("q_warc_http_brotli", "q_epub_extract", "q_text_unbz2"):
        print("STEP " + key, flush=True)
        got = qs[key](spark, sf_dir).count()
        want = len(con.execute(oracles[key]).fetchall())
        out[key] = [got, want]

    # 3. the applyInPandasWithState sessionizer (module-level tracker),
    #    drained from a one-file stream
    import os

    from yark_spark.streaming.stateful import track_sessions

    print("STEP stateful.track_sessions", flush=True)
    src = os.path.join(os.path.dirname(db_path), "events")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for user, video, watched in [
            (1, "v1", "2024-01-01T10:00:00Z"),
            (1, "v2", "2024-01-01T10:10:00Z"),
            (1, "v2", "2024-01-01T12:00:00Z"),
            (2, "v9", "2024-01-01T10:00:00Z"),
        ]:
            f.write(json.dumps({"user_id": user, "video": video, "watched": watched}) + "\\n")
    events = spark.readStream.schema(
        "user_id long, video string, watched timestamp"
    ).json(src)
    q = (
        track_sessions(events)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(src, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out["sessions"] = sorted(
        [r.user_id, r.n_events] for r in spark.table("sessions").collect()
    )

    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


def test_vanilla_session_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = tmp_path / "child.py"
    script.write_text(CHILD)
    proc = subprocess.run(
        [sys.executable, str(script), REPO, SF_DIR, str(tmp_path / "sink.db")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    steps = [ln for ln in proc.stdout.splitlines() if ln.startswith("STEP ")]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    errors = [ln.strip() for ln in proc.stderr.splitlines() if "Error:" in ln]
    assert proc.returncode == 0 and lines, f"{steps[-1:]} raised {errors[-5:]}"
    out = json.loads(lines[-1][len("RESULT ") :])
    assert out["db_rows"] == 50
    for key in ("q_warc_http_brotli", "q_epub_extract", "q_text_unbz2"):
        got, want = out[key]
        assert got == want and got > 0, (key, got, want)
    # the >30 min gap closes user 1's first session inside the micro-batch
    assert [1, 2] in out["sessions"], out["sessions"]
