"""Gzipped-TSV source and TSV sink (SURVEY §2.1 S2/S3/S4/S5).

Reference behavior being re-expressed Spark-first:
- GzippedTsvReader (pimdb/common.py:183-265): tab-delimited, header row,
  quoting DISABLED (fields may contain stray '"'), nullValue '\\N',
  keep-FIRST dedup on key columns, optional conjunctive isin filter.
- typed_column_to_value_map (pimdb/database.py:320-355): \\N -> NULL, or a
  type default (bool False / int 0 / float 0.0 / str '') with a warning if
  the column is non-nullable; booleans parse strictly from '1'/'0'.
- TsvDictWriter (pimdb/common.py:268-295): tab-joined rows with header.

Scale notes: a single .tsv.gz is one task (gzip is not splittable) — for
100 TB inputs, pass a directory of many .gz shards, or let
``split_gz_tsv`` decompress-and-split one large file into plain-text
shards first: the serial part shrinks to the inherent single-stream
gunzip (~1-2 GB/min), while the expensive downstream work (CSV parse,
typed projection, dedup window, parquet encode — several times the
decompress cost) fans out across all cores/executors.  The keep-first
dedup shuffles once on the key columns.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType

from pimdb_spark.schemas import DATASET_COLUMNS, DATASET_KEY_COLUMNS, dataset_schema, type_default


def read_tsv(spark: SparkSession, path: str, dataset: str) -> DataFrame:
    """Raw scan: all columns string, '\\N' -> NULL, no quoting."""
    return spark.read.csv(
        path,
        sep="\t",
        header=True,
        schema=dataset_schema(dataset),
        nullValue="\\N",
        quote="",  # QUOTE_NONE (pimdb/common.py:226)
        escape="",
        mode="PERMISSIVE",
    )


def typed(df: DataFrame, dataset: str) -> DataFrame:
    """P1 typed coercion: cast each declared column, defaulting \\N in
    non-nullable columns (database.py:328-344); strict '1'/'0' booleans
    (database.py:345-351) — anything else becomes NULL, then the
    non-nullable default if applicable."""
    cols = []
    for name, stype, nullable in DATASET_COLUMNS[dataset]:
        c = F.col(name)
        if isinstance(stype, BooleanType):
            c = F.when(c == "1", F.lit(True)).when(c == "0", F.lit(False)).otherwise(
                F.lit(None).cast("boolean")
            )
        elif isinstance(stype, IntegerType):
            c = c.cast("int")
        elif isinstance(stype, DoubleType):
            c = c.cast("double")
        if not nullable:
            c = F.coalesce(c, F.lit(type_default(stype)))
        cols.append(c.alias(name))
    return df.select(*cols)


def dedup_keep_first(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """S3: keep the FIRST occurrence per key in file order.

    pimdb tracks seen keys in a driver-side set (common.py:238-255); the
    distributed equivalent tags each row with monotonically_increasing_id()
    — ascending in file order within and across splits of one input file —
    and keeps row_number()==1 per key ordered by that tag.
    """
    w = Window.partitionBy(*keys).orderBy("_seq")
    return (
        df.withColumn("_seq", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_seq", "_rn")
    )


def conjunctive_filter(df: DataFrame, name_to_values: dict[str, list[str]] | None) -> DataFrame:
    """S4: keep row iff row[col] IN values for EVERY (col, values) entry
    (filtered_name_to_values_map, common.py:241-252)."""
    if not name_to_values:
        return df
    for colname, values in name_to_values.items():
        df = df.filter(F.col(colname).isin(list(values)))
    return df


def split_gz_tsv(
    gz_path: str, out_dir: str, target_shard_bytes: int = 128 << 20
) -> list[str]:
    """Decompress-and-split ONE large .tsv.gz into ordered plain-text
    shards so a non-splittable gzip dataset stops serializing the
    transfer (SCALE.md 'splittable ingest').

    One streaming gunzip pass (constant memory: 8 MiB chunks, shard
    boundaries only on line breaks) writes ``shard-NNNNN.tsv`` files of
    ~target_shard_bytes, each with the header line prepended (Spark's
    ``header=True`` drops the first line of EVERY file).  Shard names
    sort in stream order and plain text is further splittable, so Spark
    orders splits by (file, offset) — exactly the original byte order —
    which keeps ``dedup_keep_first``'s monotonically_increasing_id
    ordering identical to reading the single gz.

    The gunzip itself is inherently single-stream (DEFLATE back-refs),
    but it is pure IO+inflate; the CPU-heavy parse/type/dedup/encode
    stages — several times the decompress cost — then run wide.  Returns
    the shard paths."""
    os.makedirs(out_dir, exist_ok=True)
    chunk_bytes = 8 << 20
    shards: list[str] = []

    def write_shard(data: bytes) -> None:
        path = os.path.join(out_dir, f"shard-{len(shards):05d}.tsv")
        with open(path, "wb") as out:
            out.write(header)
            out.write(data)
        shards.append(path)

    # memory bound: pending holds at most ~target_shard_bytes + one chunk
    with gzip.open(gz_path, "rb") as f:
        header = f.readline()
        pending = b""
        while True:
            chunk = f.read(chunk_bytes)
            pending += chunk
            while len(pending) >= target_shard_bytes:
                cut = pending.rfind(b"\n", 0, target_shard_bytes)
                if cut < 0:  # one line longer than the target: extend
                    cut = pending.find(b"\n", target_shard_bytes)
                if cut < 0:
                    break  # no line boundary in the buffer yet
                write_shard(pending[: cut + 1])
                pending = pending[cut + 1 :]
            if not chunk:
                if pending or not shards:
                    write_shard(pending)
                break
    return shards


def read_dataset(
    spark: SparkSession,
    path: str,
    dataset: str,
    filtered_name_to_values_map: dict[str, list[str]] | None = None,
    split_work_dir: str | None = None,
    split_over_bytes: int = 1 << 30,
    split_shard_bytes: int = 128 << 20,
) -> DataFrame:
    """Full S2+S4+P1+S3 pipeline for one dataset file.

    With ``split_work_dir`` set, a single ``.gz`` file larger than
    ``split_over_bytes`` is first decompressed into ordered plain-text
    shards there (split_gz_tsv) so the scan parallelizes; results are
    row- and order-identical to reading the gz directly (tested)."""
    if (
        split_work_dir is not None
        and path.endswith(".gz")
        and os.path.isfile(path)
        and os.path.getsize(path) > split_over_bytes
    ):
        shard_dir = os.path.join(split_work_dir, dataset)
        split_gz_tsv(path, shard_dir, split_shard_bytes)
        path = shard_dir
    df = read_tsv(spark, path, dataset)
    df = conjunctive_filter(df, filtered_name_to_values_map)
    df = typed(df, dataset)
    return dedup_keep_first(df, DATASET_KEY_COLUMNS[dataset])


def print_tsv(df: DataFrame) -> None:
    """S5 stdout variant (pimdb/command.py:237): stream partitions via
    toLocalIterator — never materializes the full result on the driver."""
    print("\t".join(df.columns))
    for row in df.toLocalIterator():
        print("\t".join("\\N" if v is None else str(v) for v in row))
