"""A JDBC TIMESTAMP keeps its wall clock whatever the host's time zone is.

Spark reads a JDBC TIMESTAMP in the JVM's default zone, not in
`spark.sql.session.timeZone`, so the check needs a JVM started in another
zone: a fresh process with TZ=Asia/Tokyo, like the fresh-JVM guard in
tests/test_audit.py. The landed value is read back as a string in Spark,
because Python renders a `timestamp` (LTZ) value in its own zone.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

_RUN = r"""
import datetime as dt
import json
import sys

from flink_job_spark.pipeline import IngestConfig, ingest_tables
from flink_job_spark.session import get_spark
from flink_job_spark.sources.jdbc import JdbcSnapshotSource
from flink_job_spark.sources.metadata import read_table_metadata

out, url = sys.argv[1], "jdbc:derby:memory:fjs_wall_clock;create=true"
spark = get_spark("jdbc-wall-clock", cpus=2)
jvm = spark.sparkContext._jvm
conn = jvm.java.sql.DriverManager.getConnection(url)
st = conn.createStatement()
st.executeUpdate('CREATE TABLE "wc" ("id" BIGINT NOT NULL, "ts" TIMESTAMP)')
st.executeUpdate("INSERT INTO \"wc\" VALUES (1, TIMESTAMP('2026-01-01 12:00:00'))")
st.close()
conn.close()
infos = {c.name: c for c in read_table_metadata(spark, url, "wc")}
df = JdbcSnapshotSource(url, "wc", list(infos), "id", cutoff=1,
                        infos=infos).reader(spark).load()
res = ingest_tables(spark, [(df, "wc", f"{out}/wc", "id", infos)],
                    IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
row = spark.read.parquet(f"{out}/wc").selectExpr(
    "CAST(ts AS STRING) AS ts", "row_hash").first()
print(json.dumps({"ok": res[0].ok, "ts": row["ts"], "row_hash": row["row_hash"],
                  "jvm_zone": jvm.java.util.TimeZone.getDefault().getID()}))
spark.stop()
"""


def test_jdbc_timestamp_keeps_wall_clock_in_another_zone(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g",
               TZ="Asia/Tokyo")
    done = subprocess.run([sys.executable, "-c", _RUN, str(tmp_path)], cwd=root,
                          env=env, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    state = json.loads(done.stdout.strip().splitlines()[-1])
    want = hashlib.md5(b"1|2026-01-01 12:00:00.0000").hexdigest()
    assert state == {"ok": True, "ts": "2026-01-01 12:00:00", "row_hash": want,
                     "jvm_zone": "UTC"}
