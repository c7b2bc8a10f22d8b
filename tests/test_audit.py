"""The audit's mismatch flag and the case mapping it keeps off the snapshot path.

`hash_mismatch_flag` compares the two row hashes byte-exact before it falls
back to the reference's `lower(h1) = lower(h2)` (mis:1393-1395). A truth
table checks that the flag still means the reference's formula, evaluated in
the same session. A fresh JVM checks that an audited snapshot and a paged
stream increment never evaluate `lower()`: the first one in a JVM runs
`CollationAwareUTF8String`'s static initializer, an ICU pass over every code
point. The shared test session cannot host that check, because other keys
call `lower()` there.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from flink_job_spark.operators.audit import hash_mismatch_flag

PAIRS = [
    ("abc", "abc"),        # equal
    ("ABC", "abc"),        # ASCII case-only difference
    ("Ä", "ä"),            # non-ASCII case pair
    ("ǅ", "ǆ"),            # title-case digraph and its lowercase
    ("abc", "abd"),        # a real difference
    (None, "abc"),         # NULL on the left
    ("abc", None),         # NULL on the right
    (None, None),          # NULL on both sides
]


def test_flag_matches_reference_formula_row_by_row(spark):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(PAIRS)], "i INT, a STRING, b STRING")
    rows = df.select(
        "i",
        hash_mismatch_flag("a", "b").alias("flag"),
        F.when(F.lower("a") == F.lower("b"), 0).otherwise(1).alias("reference"),
    ).orderBy("i").collect()
    assert [(r["flag"], r["reference"]) for r in rows] == [
        (0, 0), (0, 0), (0, 0), (0, 0), (1, 1), (1, 1), (1, 1), (1, 1)]


_GUARD = r"""
import datetime as dt
import json
import sys

from pyspark.sql import types as T

from flink_job_spark.pipeline import IngestConfig, ingest_tables
from flink_job_spark.session import get_spark
from flink_job_spark.streaming.ingest import stream_paged_ingest_audited

CLS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"
out = sys.argv[1]
spark = get_spark("case-mapping-guard", cpus=2)
jvm = spark.sparkContext._jvm
field = jvm.java.lang.Class.forName("sun.misc.Unsafe").getDeclaredField("theUnsafe")
field.setAccessible(True)
unsafe = field.get(None)
loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()


def initialized():
    # forName with initialize=false loads the class without running <clinit>
    return not unsafe.shouldBeInitialized(jvm.java.lang.Class.forName(CLS, False, loader))


state = {"start": initialized()}
schema = T.StructType([T.StructField("k", T.LongType(), False),
                       T.StructField("s", T.StringType()),
                       T.StructField("b", T.BinaryType())])
df = spark.createDataFrame(
    [(1, "Ab", b"\x00\xab"), (2, None, b"\xff"), (3, "x", None)], schema)
load_dttm = dt.datetime(2026, 1, 1)
res = ingest_tables(spark, [(df, "bin_t", f"{out}/snap", "k")],
                    IngestConfig(mode="replace", load_dttm=load_dttm))
state["snapshot_ok"] = res[0].ok
reports = stream_paged_ingest_audited(
    spark, cutoff=300, target_dir=f"{out}/stream", checkpoint_dir=f"{out}/ckpt",
    fetch_size=100, load_dttm=load_dttm)
state["stream_ok"] = bool(reports) and all(r.ok for r in reports)
state["after_ingest"] = initialized()
spark.sql("SELECT lower(s) FROM VALUES ('Ab') AS t(s)").collect()
state["after_lower"] = initialized()
print(json.dumps(state))
spark.stop()
"""


def test_snapshot_and_stream_never_run_case_mapping(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run([sys.executable, "-c", _GUARD, str(tmp_path)], cwd=root,
                          env=env, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    state = json.loads(done.stdout.strip().splitlines()[-1])
    assert state == {"start": False, "snapshot_ok": True, "stream_ok": True,
                     "after_ingest": False, "after_lower": True}
