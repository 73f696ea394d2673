"""Streaming shard audit — incremental WebDataset/WARC/ZIP/zstd manifest maintenance.

Completes the crawl-container family's streaming twin (VERDICT r11
item 6): shards and WARC segments arrive INCREMENTALLY in production
(a crawler drops `.tar` / `.warc.gz` files into object storage as it
goes), and the audit table downstream curation reads should advance
with them instead of waiting for the next full batch walk. The batch
side is `operators/tar.py` (strict + tolerant walks) and
`operators/warc.py`; this module maintains the SAME manifests as a
Structured Streaming job.

Design (the streaming/ann.py + tokens.py store pattern):
  readStream(asset frame: asset_id, payload BINARY) → foreachBatch:
      run the SAME Arrow-batched walker the batch query uses
      (parse_webdataset_meta_tolerant / parse_warc_meta — one shared
      function, so stream and batch manifests can never drift)
      → write the batch's manifest rows to its own slot of a parquet
      store (`streaming/sink.py`: a replayed batch rewrites its slot).

A shard re-delivered under a LATER batch_id (a crawler re-upload, a
backfill) supersedes its old manifest row via latest-batch-wins on
read.

The invariant the unit tests pin: after any sequence of micro-batches
(including replays and re-deliveries), `manifest()` is row-identical
to running the batch walker over the latest version of every shard in
one pass.

Scale stance: per-batch work is one mapInPandas pass over the new
archives only (metadata-only walks — payload bytes are skipped by
header arithmetic, so cost is ~bytes-scanned/shard-size headers); the
accumulated store is never rewritten or shuffled on ingest; the
read-back window runs over every slot, as the ANN index store's does.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orionld_to_hive_spark.operators.tar import (
    WDS_TOL_SCHEMA,
    parse_webdataset_meta_tolerant,
)
from orionld_to_hive_spark.operators.warc import parse_warc_meta
from orionld_to_hive_spark.operators.zip import ZIP_SCHEMA, parse_zip_meta
from orionld_to_hive_spark.operators.zstd import ZSTD_SCHEMA, parse_zstd_meta
from orionld_to_hive_spark.streaming.sink import start_batches, write_slot

WARC_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_records", T.IntegerType(), True),
        T.StructField("n_response", T.IntegerType(), True),
        T.StructField("response_bytes", T.LongType(), True),
        T.StructField("total_bytes", T.LongType(), True),
        T.StructField("first_uri", T.StringType(), True),
        T.StructField("gzipped", T.BooleanType(), True),
    ]
)


def _wds_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    out: dict[str, list] = {f.name: [] for f in WDS_TOL_SCHEMA.fields}
    for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
        m = parse_webdataset_meta_tolerant(bytes(payload))
        out["asset_id"].append(int(asset_id))
        out["n_members"].append(m.n_members)
        out["n_samples"].append(m.n_samples)
        out["total_bytes"].append(m.total_bytes)
        out["txt_bytes"].append(m.txt_bytes)
        out["complete"].append(m.complete)
        out["n_ext"].append(m.n_ext)
        out["ext_kind"].append(m.ext_kind)
    return pd.DataFrame(
        {
            "asset_id": pd.Series(out["asset_id"], dtype="int64"),
            "n_members": pd.Series(out["n_members"], dtype="int32"),
            "n_samples": pd.Series(out["n_samples"], dtype="int32"),
            "total_bytes": pd.Series(out["total_bytes"], dtype="int64"),
            "txt_bytes": pd.Series(out["txt_bytes"], dtype="int64"),
            "complete": pd.Series(out["complete"], dtype="bool"),
            "n_ext": pd.Series(out["n_ext"], dtype="int32"),
            "ext_kind": pd.Series(out["ext_kind"], dtype="object"),
        }
    )


def _warc_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    out: dict[str, list] = {f.name: [] for f in WARC_AUDIT_SCHEMA.fields}
    for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
        m = parse_warc_meta(bytes(payload))
        out["asset_id"].append(int(asset_id))
        out["n_records"].append(m.n_records)
        out["n_response"].append(m.n_response)
        out["response_bytes"].append(m.response_bytes)
        out["total_bytes"].append(m.total_bytes)
        out["first_uri"].append(m.first_uri)
        out["gzipped"].append(m.gzipped)
    return pd.DataFrame(
        {
            "asset_id": pd.Series(out["asset_id"], dtype="int64"),
            "n_records": pd.Series(out["n_records"], dtype="int32"),
            "n_response": pd.Series(out["n_response"], dtype="int32"),
            "response_bytes": pd.Series(out["response_bytes"], dtype="int64"),
            "total_bytes": pd.Series(out["total_bytes"], dtype="int64"),
            "first_uri": out["first_uri"],
            "gzipped": pd.Series(out["gzipped"], dtype="bool"),
        }
    )


def _zip_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    out: dict[str, list] = {f.name: [] for f in ZIP_SCHEMA.fields}
    for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
        m = parse_zip_meta(bytes(payload))
        out["asset_id"].append(int(asset_id))
        out["n_entries"].append(m.n_entries)
        out["n_stored"].append(m.n_stored)
        out["n_deflated"].append(m.n_deflated)
        out["total_bytes"].append(m.total_bytes)
        out["txt_bytes"].append(m.txt_bytes)
        out["crc_checked"].append(m.crc_checked)
    return pd.DataFrame(
        {
            "asset_id": pd.Series(out["asset_id"], dtype="int64"),
            "n_entries": pd.Series(out["n_entries"], dtype="int32"),
            "n_stored": pd.Series(out["n_stored"], dtype="int32"),
            "n_deflated": pd.Series(out["n_deflated"], dtype="int32"),
            "total_bytes": pd.Series(out["total_bytes"], dtype="int64"),
            "txt_bytes": pd.Series(out["txt_bytes"], dtype="int64"),
            "crc_checked": pd.Series(out["crc_checked"], dtype="int32"),
        }
    )


# zstd audit rows reuse the batch query's schema minus the text echo
ZSTD_AUDIT_SCHEMA = T.StructType([f for f in ZSTD_SCHEMA.fields
                                  if f.name != "body_text"])


def _zstd_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    out: dict[str, list] = {f.name: [] for f in ZSTD_AUDIT_SCHEMA.fields}
    for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
        m = parse_zstd_meta(bytes(payload))
        out["asset_id"].append(int(asset_id))
        out["n_frames"].append(m.n_frames)
        out["n_skippable"].append(m.n_skippable)
        out["n_blocks"].append(m.n_blocks)
        out["content_bytes"].append(m.content_bytes)
        out["declared_bytes"].append(m.declared_bytes)
        out["checksum_frames"].append(m.checksum_frames)
    return pd.DataFrame(
        {
            "asset_id": pd.Series(out["asset_id"], dtype="int64"),
            "n_frames": pd.Series(out["n_frames"], dtype="int32"),
            "n_skippable": pd.Series(out["n_skippable"], dtype="int32"),
            "n_blocks": pd.Series(out["n_blocks"], dtype="int32"),
            "content_bytes": pd.Series(out["content_bytes"], dtype="int64"),
            "declared_bytes": pd.Series(out["declared_bytes"], dtype="int64"),
            "checksum_frames": pd.Series(out["checksum_frames"], dtype="int32"),
        }
    )


_KINDS: dict[str, tuple[T.StructType, Callable[[pd.DataFrame], pd.DataFrame]]] = {
    "webdataset": (WDS_TOL_SCHEMA, _wds_rows),
    "warc": (WARC_AUDIT_SCHEMA, _warc_rows),
    "zip": (ZIP_SCHEMA, _zip_rows),
    "zstd": (ZSTD_AUDIT_SCHEMA, _zstd_rows),
}


def audit_frame(assets: DataFrame, kind: str) -> DataFrame:
    """Manifest rows for an (asset_id, payload) frame through the
    batch walker. Works identically on static and streaming frames —
    the single lineage both sides share, which is WHY they cannot
    drift."""
    schema, rows = _KINDS[kind]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield rows(pdf)

    return assets.select("asset_id", "payload").mapInPandas(run, schema)


class StreamingShardAudit:
    """Incrementally maintained shard-manifest store under `base`:

    base/manifest/batch_id=N/ — manifest rows of micro-batch N
    """

    def __init__(self, base: str, kind: str = "webdataset"):
        if kind not in _KINDS:
            raise ValueError(f"unknown shard kind {kind!r}")
        self.base = base.rstrip("/")
        self.kind = kind

    # -- ingest ----------------------------------------------------------
    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: the batch's manifest slot."""
        write_slot(
            audit_frame(batch_df, self.kind), self.base, "manifest", batch_id
        )

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        """Attach the audit sink to a streaming frame of
        (asset_id, payload) rows."""
        return start_batches(stream_df, self.write_batch, checkpoint_dir, available_now)

    # -- read back -------------------------------------------------------
    def manifest(self, spark: SparkSession) -> DataFrame:
        """Latest-batch-wins manifest: a shard re-delivered in a later
        micro-batch supersedes its earlier audit row."""
        from pyspark.sql.window import Window

        m = spark.read.parquet(f"{self.base}/manifest")
        w = Window.partitionBy("asset_id").orderBy(F.col("batch_id").desc())
        return (
            m.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "batch_id")
        )
