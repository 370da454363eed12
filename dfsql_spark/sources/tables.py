"""Table registration: file-backed and in-memory tables.

Reference model (dfsql/table.py:13-72): a ``Table`` is a named, lazily
fetched DataFrame; ``FileTable`` reads a CSV on demand.  In Spark the
laziness is native — ``spark.read`` only touches the file for schema
inference, and the scan happens at action time — so a "table" here is
just a catalog record plus a registered temp view.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_FORMAT_BY_EXT = {
    ".csv": "csv",
    ".tsv": "tsv",
    ".parquet": "parquet",
    ".pq": "parquet",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".orc": "orc",
    # CommonCrawl WET text extracts (sources/warc.py); .warc.wet.gz
    # resolves here after the compression strip below
    ".wet": "wet",
}

# Compression suffixes Spark's text-based readers decompress
# transparently; inference looks through them (``docs.jsonl.gz`` is
# JSON-lines, not the csv fallback).  The reference gets ``.csv.gz``
# for free from pandas' compression inference (dfsql/table.py:57);
# compressed JSON-lines — the standard crawl interchange format — is
# part of the uplift.
_COMPRESSION_EXTS = {".gz", ".bz2", ".deflate", ".zst"}


def infer_format(fpath: str) -> str:
    base, ext = os.path.splitext(fpath)
    if ext.lower() in _COMPRESSION_EXTS:
        ext = os.path.splitext(base)[1]
    return _FORMAT_BY_EXT.get(ext.lower(), "csv")


@dataclass
class TableInfo:
    """Catalog record for one registered table."""

    name: str
    fpath: str | None = None  # None → in-memory (DataFrame-backed)
    format: str | None = None
    options: dict = field(default_factory=dict)
    # bytes on disk at registration, for the auto-cache size gate;
    # None when the path can't be cheaply stat'ed (remote URI)
    size_bytes: int | None = None

    def to_metadata(self) -> dict:
        return {
            "type": "file" if self.fpath else "memory",
            "name": self.name,
            "fpath": self.fpath,
            "format": self.format,
        }


def read_file(spark: SparkSession, fpath: str, fmt: str | None = None, **options) -> DataFrame:
    """Read a data file with schema inference, mirroring the reference's
    ``pd.read_csv`` + ``convert_dtypes`` behavior (dfsql/table.py:7-10,56-57).

    At scale: parquet/ORC are self-describing (no inference pass); CSV
    inference samples the file once.  Column pruning and predicate
    pushdown then happen in the scan via Catalyst.
    """
    fmt = fmt or infer_format(fpath)
    reader = spark.read
    if fmt in ("csv", "tsv"):
        opts = {"header": "true", "inferSchema": "true", "nullValue": ""}
        if fmt == "tsv":
            # Divergence from the reference, which feeds .tsv through
            # pd.read_csv with the comma default (dfsql/table.py:57)
            # and gets a single mangled column; tab-separated is what
            # the extension means.
            opts["sep"] = "\t"
        opts.update(options)
        return reader.options(**opts).csv(fpath)
    if fmt == "parquet":
        return reader.options(**options).parquet(fpath)
    if fmt == "json":
        return reader.options(**options).json(fpath)
    if fmt == "wet":
        from .warc import read_wet

        return read_wet(spark, fpath, **options)
    return reader.format(fmt).options(**options).load(fpath)


def with_provenance(
    df: DataFrame, col: str = "source_file", basename: bool = True
) -> DataFrame:
    """Attach the originating shard file to every row — the provenance
    column a multi-shard crawl ingest carries so later stages (dedup
    survivors, contamination reports) can cite their input shard.

    Uses ``input_file_name()`` (per-partition constant, zero cost);
    ``basename=True`` keeps just the file name, dropping the
    scheme/directory noise.  Must be called on a DataFrame still
    backed by a file scan — after a shuffle the lineage is gone and
    the column is empty, so call it at read time.
    """
    name = F.input_file_name()
    if basename:
        name = F.element_at(F.split(name, "/"), -1)
    return df.withColumn(col, name)
