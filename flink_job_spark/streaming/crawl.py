"""Streaming twin of the crawl front-end (r6, VERDICT r5 #6).

The batch keys cover the crawl chain piecewise (q_media_warc_stats →
q_charset_sniff → q_html_extract → q_url_normalize → q_dedup_incremental);
real ingestion is INCREMENTAL — WARC payloads arrive continuously and each
batch must be extracted and admitted against everything before it. This
module composes the existing pieces into one Structured Streaming flow:

    parquet file stream of (doc_id, payload=WARC bytes)
      → warc_visible_extract (SHARED batch/stream transformation:
        WARC record walk → charset sniff → HTML visible-text extraction,
        one Arrow-batched mapInPandas pass, functions/{warc,crawl_text,
        html_text}.py)
      → foreachBatch admission against the persistent key store
        (md5 of the normalized EXTRACTED text — dedup happens on what a
        training corpus would keep, not on raw bytes), with the same
        replay-safe discipline as streaming/dedup.py: per-batch-partition
        output, duplicate-tolerant append-only key store, O(1) manifest.

Batch-equals-stream holds by construction: the extraction transformation
is one function applied to either frame kind, and the admission verdicts
replay q_dedup_incremental's first-wins rule batch by batch. The twin
test (tests/test_streaming.py) asserts both equalities plus restart
safety (a second run admits nothing new).

At 100 TB: extraction is map-only (scales with input splits); admission
is the bounded-batch semi-join of streaming/dedup.py (broadcasts the
BATCH's keys, never the corpus' — the key store is the big bucketed side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.streaming import drain, with_file_cap
from flink_job_spark.streaming.dedup import _classify_batch, admission_sink

WARC_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType()),
])

EXTRACT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_records", T.IntegerType()),
    T.StructField("charset", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("n_links", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("extract_error", T.StringType()),
])


def warc_visible_extract(docs: DataFrame) -> DataFrame:
    """(doc_id, payload WARC bytes) → extracted visible text of the FIRST
    response record (deterministic pick; additional records are counted).
    ONE definition for both execution modes — a batch frame or a streaming
    micro-batch goes through the identical Arrow-batched pass, which is
    what makes the batch-equals-stream proof meaningful. Errors are data."""
    import pandas as pd

    from flink_job_spark.functions.crawl_text import sniff_decode
    from flink_job_spark.functions.html_text import extract_visible_text
    from flink_job_spark.functions.warc import WarcFormatError, warc_records

    def run(it):
        for pdf in it:
            cols: dict[str, list] = {k: [] for k in
                                     ["n_records", "charset", "title",
                                      "n_links", "text", "extract_error"]}
            for payload in pdf["payload"]:
                nrec = cs = title = nlinks = text = err = None
                if payload is None:
                    err = "null payload"
                else:
                    try:
                        nrec = 0
                        body = None
                        for hdrs, rec_payload in warc_records(bytes(payload)):
                            nrec += 1
                            wtype = hdrs.get("warc-type", "")
                            if body is None and wtype == "response":
                                body = rec_payload
                        if body is None:
                            err = "no response record"
                        else:
                            sniffed = sniff_decode(body)
                            cs = sniffed["charset"]
                            ex = extract_visible_text(sniffed["text"])
                            title = ex["title"]
                            nlinks = ex["n_links"]
                            text = ex["text"]
                    except WarcFormatError as e:
                        nrec = cs = title = nlinks = text = None
                        err = f"bad warc: {e}"
                cols["n_records"].append(nrec)
                cols["charset"].append(cs)
                cols["title"].append(title)
                cols["n_links"].append(nlinks)
                cols["text"].append(text)
                cols["extract_error"].append(err)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_records": pd.array(cols["n_records"], dtype="Int32"),
                "charset": cols["charset"],
                "title": cols["title"],
                "n_links": pd.array(cols["n_links"], dtype="Int32"),
                "text": cols["text"],
                "extract_error": cols["extract_error"],
            })

    return docs.mapInPandas(run, schema=EXTRACT_SCHEMA)


def _classify_extracted(extracted: DataFrame,
                        seen: DataFrame | None) -> DataFrame:
    """Every extracted document with its admission verdict: only documents
    with clean extracted text are classified, the rest carry null verdicts."""
    clean = extracted.filter(F.col("extract_error").isNull()
                             & F.col("text").isNotNull())
    return extracted.join(_classify_batch(clean, seen), "doc_id", "left")


def stream_crawl_extract(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drain available WARC-document files (availableNow), extracting and
    admitting each micro-batch. Output partitions: ``out/batch_id=N`` with
    the extracted columns + content_key + verdict. Replay-safe exactly as
    streaming/dedup.py: the same admission protocol runs on the extracted
    documents."""
    src = with_file_cap(spark.readStream.schema(WARC_DOC_SCHEMA),
                        max_files_per_trigger).parquet(src_dir)
    drain(warc_visible_extract(src),
          admission_sink(spark, state_dir, out_dir, _classify_extracted),
          checkpoint_dir)
