"""Sources & sinks (SURVEY.md §2.1).

- mention TSV/CSV scan reproducing the reference's reader semantics
  (S1/S2: delimiter by extension, header, all-string, drop null ids,
  fill "" — /root/reference/ontology_matcher/ontology_formatter.py:528-542);
- schema pre-flight (S3: _check_format, of.py:570-587) as a driver-side
  assertion;
- formatted TSV sink (S9: formatted + .failed.tsv, of.py:792-815);
- table IO abstraction: Iceberg when the runtime catalog is
  configured, else a parquet directory with the SAME partition layout
  (SURVEY.md §7 risk 4) — checkpoint/resume manifests sit on top in
  plans/pipeline.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REQUIRED_COLUMNS = ["id", "name", "label", "resource"]
OPTIONAL_COLUMNS = ["description", "synonyms", "pmids", "taxid", "xrefs"]


def check_format(df: DataFrame) -> None:
    """Raise if required columns are missing (ref _check_format)."""
    missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"Missing required columns {missing}; expected {REQUIRED_COLUMNS}"
        )


def read_mentions(spark: SparkSession, path: str) -> DataFrame:
    """Read a mention file (.tsv/.csv by extension) or parquet dir —
    all-string, null-id rows dropped, NaN→'' (ref of.py:537-540)."""
    if path.endswith((".tsv", ".csv")):
        sep = "\t" if path.endswith(".tsv") else ","
        # no inferSchema → every column reads as string (the reference
        # reads dtype=str); extra columns (smiles, semantic_types, …)
        # are tolerated on input and dropped at output projection
        df = spark.read.option("sep", sep).option("header", True).csv(path)
    else:
        df = spark.read.parquet(path)
    check_format(df)
    for c in OPTIONAL_COLUMNS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(""))
    return df.where(F.col("id").isNotNull()).na.fill(
        "", REQUIRED_COLUMNS + OPTIONAL_COLUMNS
    )


def _write_tsv(df: DataFrame, out_path: str, single_file: bool) -> None:
    """Distributed TSV write (executors write; NOTHING is collected to
    the driver). ``single_file`` coalesces to one task and renames the
    part file to ``out_path`` — the reference-parity layout for small
    outputs; leave False at scale for a part-file directory."""
    import glob
    import shutil

    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    # emptyValue/nullValue: Spark's CSV writer serializes empty strings
    # as the two-character literal '""' by default; formatted outputs
    # are full of empty fields (raw_id on rescued rows, description,
    # taxid), and the reference's pandas to_csv writes them EMPTY —
    # match that byte-wise so tab-split consumers see '' not '""'
    opts = {"sep": "\t", "header": True, "emptyValue": "", "nullValue": ""}
    if not single_file:
        df.write.mode("overwrite").options(**opts).csv(out_path)
        return
    tmp = out_path + "._spark_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").options(**opts).csv(tmp)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
    if parts:
        os.replace(parts[0], out_path)
    else:  # zero-row frame may emit no part file — still write the header
        with open(out_path, "w") as f:
            f.write("\t".join(df.columns) + "\n")
    shutil.rmtree(tmp, ignore_errors=True)


def write_formatted(
    formatted: DataFrame,
    failed: DataFrame,
    out_path: str,
    single_file: bool = True,
    json_path: str | None = None,
) -> None:
    """Formatted TSV + .failed.tsv sink (S9, reference
    ontology_formatter.py:792-815; pipe-joined fields are already
    strings at this point) + optional JSON export of the formatted rows
    (the reference's save_to_json analog, ontology_formatter.py:777-790)."""
    _write_tsv(formatted, out_path, single_file)
    _write_tsv(failed, out_path.rsplit(".", 1)[0] + ".failed.tsv", single_file)
    if json_path is not None:
        write_formatted_json(formatted, json_path, single_file)


def write_formatted_json(
    formatted: DataFrame, json_path: str, single_file: bool = True
) -> None:
    """JSON-lines export of a formatted frame (distributed write)."""
    import glob
    import shutil

    os.makedirs(os.path.dirname(json_path) or ".", exist_ok=True)
    if not single_file:
        formatted.write.mode("overwrite").json(json_path)
        return
    tmp = json_path + "._spark_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    formatted.coalesce(1).write.mode("overwrite").json(tmp)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
    if parts:
        os.replace(parts[0], json_path)
    else:
        open(json_path, "w").close()
    shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------- tables
ICEBERG_CATALOG = "kg"


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog named ``kg`` is configured on this
    session (``spark.sql.catalog.kg`` → catalog plugin class). The
    sandbox has no Iceberg jars, so this is False locally; on a real
    cluster `write_table` then routes through DataFrameWriterV2."""
    try:
        return bool(spark.conf.get(f"spark.sql.catalog.{ICEBERG_CATALOG}", None))
    except Exception:
        return False


def write_table(
    df: DataFrame,
    base_dir: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Write a stage table.

    With an Iceberg catalog configured (`iceberg_available`), writes
    ``kg.<name>`` via DataFrameWriterV2 with identity partitioning on
    ``partition_by`` — the north rule's partitioned-Iceberg
    materialization. Otherwise (the sandbox) a parquet directory with
    the SAME partition layout, so readers and partition pruning behave
    identically across both backends."""
    if iceberg_available(df.sparkSession):
        ident = f"{ICEBERG_CATALOG}.{name}"
        writer = df.writeTo(ident).using("iceberg")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return ident
    path = os.path.join(base_dir, name)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, name))
