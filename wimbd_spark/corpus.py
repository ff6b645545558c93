"""Corpus loading/writing — the scan/sink surface (SURVEY.md §2.1).

Parity map (file:line relative to /root/reference):
- S1/S2  gzip JSONL scan + dir glob   src/io.rs:13-59; src/cmd/util.rs:318-339
- S3     smart_open (s3://)           wimbd/utils/utils.py:6-10
- S4     per-file line limit          src/cmd/util.rs:72-81
- S5     file-list truncation         src/cmd/topk.rs:122-124
- S9     index sink (curated corpus)  wimbd/indexing/index_json_files.py:60-112
- S10    JSONL result sink            src/cmd/topk.rs:303-328; src/util.rs:6-25
- S12    train/valid/test splitter    wimbd/utils/split_files.py:24-41
- S13    file splitter                wimbd/utils/file_split.py:17-33

Spark-first: gzip jsonl shards are non-splittable, so parallelism is
per-file — identical to the reference's model. `to_parquet_corpus`
(≙ S9's ES index build) is the one-extra-pass that converts a corpus
to a splittable, column-pruned, predicate-pushdown-able table, which
is what makes repeated 100 TB queries cheap.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Canonical union document schema (SURVEY.md §1.1; ES mapping
# wimbd/es/README.md "Indices Mapping" + observed optional fields).
DOCUMENT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("text", StringType()),
        StructField("url", StringType()),
        StructField("timestamp", StringType()),
        StructField("date", TimestampType()),
        StructField("subset", StringType()),
        StructField("source", StringType()),
        StructField("lang", StringType()),
        StructField("metadata", MapType(StringType(), StringType())),
    ]
)


def expand_dirs(paths: list[str], pattern: str = "**/*.json*.gz") -> list[str]:
    """Glob shard files under each path; error if nothing matches.

    Parity: src/cmd/util.rs:318-339 (expand_dirs, incl. the empty-result
    error). Files given directly pass through untouched.
    """
    out: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            found = sorted(_glob.glob(os.path.join(p, pattern), recursive=True))
            if not found:
                raise FileNotFoundError(f"no files matching {pattern} under {p}")
            out.extend(found)
        else:
            out.append(p)
    if not out:
        raise FileNotFoundError("no input files")
    return out


def load_jsonl(
    spark: SparkSession,
    paths: list[str],
    schema: StructType | None = DOCUMENT_SCHEMA,
    file_limit: int | None = None,
    line_limit: int | None = None,
    with_provenance: bool = True,
) -> DataFrame:
    """Read (gzip) JSONL shards into the canonical document frame.

    - schema=None infers (schema-on-read like the reference's serde);
      the default fixed union schema skips inference's extra pass.
    - file_limit ≙ --file-limit (S5): truncate the shard list.
    - line_limit ≙ -l/--limit (S4): at most N rows PER FILE, via a
      window over input_file_name (the reference takes the first N of
      each reader; file order within a shard is preserved by Spark's
      line reader, but row_number needs an explicit order → we use the
      on-disk order surrogate monotonically_increasing_id).
    - provenance: _file (shard path) for stats/search locations
      (src/cmd/stats.rs:250-255 doc pointers).
    """
    files = expand_dirs(paths)
    if file_limit is not None:
        files = files[:file_limit]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(files)
    if with_provenance:
        df = df.withColumn("_file", F.input_file_name())
    if line_limit is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(F.input_file_name()).orderBy(
            F.monotonically_increasing_id()
        )
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= line_limit)
            .drop("_rn")
        )
    return df


def to_parquet_corpus(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus as a partitioned Parquet table (≙ the ES
    index build S9 — the derived structure interactive queries hit).
    Partition on low-cardinality filter columns (subset, lang, date
    buckets) so partition pruning replaces ES routing."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl(df: DataFrame, path: str, force: bool = False) -> None:
    """JSONL result sink (S10). force ≙ --force overwrite
    (src/util.rs:6-25)."""
    df.write.mode("overwrite" if force else "error").json(path)


def standardize_corpus(
    df: DataFrame,
    text_field: str = "text",
    id_field: str | None = None,
    lang_field: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """Rename a foreign table's fields into the canonical document
    shape and pack all remaining columns into `metadata`.

    Parity: preparation/stack/download_url.py:11-41 (S8: parquet →
    {text, id, lang, metadata{...}}) and preparation/mc4/mc4.py:70-77's
    canonical doc emission.
    """
    known = {text_field, id_field, lang_field} - {None}
    rest = [c for c in df.columns if c not in known]
    meta = F.map_from_arrays(
        F.array(*[F.lit(c) for c in rest]),
        F.array(*[F.col(c).cast("string") for c in rest]),
    )
    cols = [
        (
            F.col(id_field).cast("string")
            if id_field
            else F.monotonically_increasing_id().cast("string")
        ).alias("id"),
        F.col(text_field).cast("string").alias("text"),
        (F.col(lang_field).cast("string") if lang_field else F.lit(None).cast("string")).alias("lang"),
        F.lit(source).cast("string").alias("source"),
        meta.alias("metadata"),
    ]
    return df.select(*cols)


def split_train_valid_test(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Deterministic split by the first 3 hex chars of sha1(text):
    fff/ffe → test, ffd/ffc → valid, else train (~0.05% each).

    Parity: wimbd/utils/split_files.py:24-41 — same prefix convention,
    so splits agree with the reference on identical text.
    """
    prefix = F.substring(F.sha1(F.coalesce(F.col(text_col), F.lit(""))), 1, 3)
    return df.withColumn(
        "split",
        F.when(prefix.isin("fff", "ffe"), "test")
        .when(prefix.isin("ffd", "ffc"), "valid")
        .otherwise("train"),
    )


def _hf_split_files(root: str, split: str) -> tuple[str, list[str]]:
    """Locate a split's data files inside a local HF dataset directory.

    Recognized layouts (in preference order — parquet is the scale path):
    - hub snapshot / parquet export: ``<root>/<split>/*.parquet``,
      ``<root>/data/<split>-*.parquet``, or ``<root>/*.parquet``
    - ``Dataset.save_to_disk``: ``<root>/<split>/data-*.arrow`` or
      ``<root>/data-*.arrow`` (Arrow IPC stream shards + state.json)

    The split-agnostic top-level patterns apply ONLY to the default
    "train" split: a top-level-parquet layout carries no split labels,
    so matching it for split="validation" would silently hand an eval
    pipeline the train files — fatal for decontamination workflows.
    Non-default splits must resolve to split-named files or the caller
    raises.
    """
    pats = [f"{root}/{split}/*.parquet", f"{root}/data/{split}-*.parquet"]
    if split == "train":
        pats.append(f"{root}/*.parquet")
    for pat in pats:
        hits = sorted(_glob.glob(pat))
        if hits:
            return "parquet", hits
    pats = [f"{root}/{split}/data-*.arrow"]
    if split == "train":
        pats.append(f"{root}/data-*.arrow")
    for pat in pats:
        hits = sorted(_glob.glob(pat))
        if hits:
            return "arrow", hits
    return "none", []


def _read_arrow_shards(spark: SparkSession, files: list[str]) -> DataFrame:
    """Distributed read of Arrow IPC shards (``save_to_disk`` output).

    Spark has no native Arrow-IPC source, so the file LIST is the
    DataFrame and each task streams its files' record batches through
    pyarrow inside mapInPandas — the driver only ever touches one
    schema read. Scale shape: parallelism = #shards (HF shards default
    to 500 MB), no shuffle, batches stay Arrow end-to-end.
    """
    import pyarrow as pa

    def _open(path):
        try:
            return pa.ipc.open_stream(pa.memory_map(path))
        except pa.ArrowInvalid:  # file (random-access) format variant
            return pa.ipc.open_file(pa.memory_map(path))

    with _open(files[0]) as rd:
        arrow_schema = rd.schema
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(arrow_schema)
    except Exception:  # internal API moved — common scalar fallback
        from pyspark.sql.types import (
            StructField,
            StructType,
            _parse_datatype_string,
        )

        _map = {"string": "string", "large_string": "string",
                "int64": "bigint", "int32": "int", "double": "double",
                "float": "float", "bool": "boolean", "binary": "binary"}
        schema = StructType(
            [
                StructField(
                    f.name,
                    _parse_datatype_string(_map.get(str(f.type), "string")),
                )
                for f in arrow_schema
            ]
        )

    def gen(batches):
        for pdf in batches:
            for path in pdf["path"]:
                with _open(path) as rd:
                    for batch in rd:
                        yield batch.to_pandas()

    paths = spark.createDataFrame([(p,) for p in files], "path string")
    n = min(len(files), spark.sparkContext.defaultParallelism)
    return paths.repartition(n).mapInPandas(gen, schema=schema)


def load_hf_dataset(
    spark: SparkSession,
    dataset: str,
    split: str = "train",
    text_field: str = "text",
    id_field: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """HF-dataset ingest (≙ S6, wimbd/indexing/huggingface.py:28-92).

    A local dataset directory needs no extra packages: parquet shards
    read natively (predicate/column pushdown intact) and
    ``save_to_disk`` Arrow shards stream through pyarrow per-task
    (_read_arrow_shards). A hub NAME still requires the `datasets`
    package (network download) and stays import-gated.
    """
    if os.path.isdir(dataset):
        kind, files = _hf_split_files(dataset.rstrip("/"), split)
        if kind == "parquet":
            df = spark.read.parquet(*files)
        elif kind == "arrow":
            df = _read_arrow_shards(spark, files)
        else:
            raise FileNotFoundError(
                f"no parquet/arrow data files for split {split!r} under "
                f"{dataset!r}"
            )
        return standardize_corpus(
            df,
            text_field=text_field,
            id_field=id_field,
            source=source or os.path.basename(dataset.rstrip("/")),
        )

    import importlib.util

    if importlib.util.find_spec("datasets") is None:
        raise NotImplementedError(
            "load_hf_dataset needs the `datasets` package for hub names; "
            "download/export the dataset locally (parquet or "
            "save_to_disk) and pass the directory path instead"
        )
    import datasets as hfds  # pragma: no cover — not in this container

    ds = hfds.load_dataset(dataset, split=split, streaming=False)
    df = spark.createDataFrame(ds.to_pandas())
    return standardize_corpus(df, text_field=text_field, source=dataset)


def load_tfrecords(
    spark: SparkSession,
    paths: list[str],
    features: dict[str, str] | None = None,
    use_connector: bool = False,
    verify_crc: bool = False,
) -> DataFrame:
    """TFRecord ingest (≙ S7 mC4 prep, preparation/mc4/mc4.py:36-84).

    Default path is the dependency-free distributed reader in
    sources/tfrecord.py (framing + tf.train.Example decoded in pure
    Python inside mapInPandas). ``use_connector=True`` opts into the
    spark-tensorflow-connector jar when it is on the cluster classpath
    (JVM-side decode, faster)."""
    if use_connector:
        try:
            return spark.read.format("tfrecord").load(paths)  # pragma: no cover
        except Exception as e:  # connector jar absent
            raise NotImplementedError(
                "use_connector=True needs the spark-tensorflow-connector "
                "jar on the classpath; call without it for the built-in "
                "reader"
            ) from e
    from wimbd_spark.sources.tfrecord import read_tfrecords

    return read_tfrecords(spark, paths, features=features, verify_crc=verify_crc)


def split_files(df: DataFrame, n: int) -> DataFrame:
    """≙ S13 file splitter: rebalance into n output files
    (wimbd/utils/file_split.py:17-33 chunked each shard; a repartition
    is the distributed equivalent)."""
    return df.repartition(n)
