"""Batch source/sink adapters — the reference's I/O edges re-expressed.

Sources: S4 JDBC scan (read_delta.py:59-111), S5 Excel scan
(commute_validation.py:187); the S3 lakehouse scan (read_delta.py:47-53)
is ``sources/tables.load_table``.
Sinks: K2 batch overwrite (read_delta.py:219-222), K3 JDBC bulk insert
(sql_scripts.py:104-148), K6 console.

The lakehouse format here is parquet (the container has no Delta jars); on
a Delta deployment every ``format("parquet")`` below becomes
``format("delta")`` — call shape identical, as with the streaming sink.

Scale fixes over the reference, by design:
- JDBC reads are PARTITIONED (partitionColumn/lowerBound/upperBound/
  numPartitions) — the reference's single-partition read
  (read_delta.py:101) serializes the whole table through one task.
- Batch writes take partition columns (the reference writes unpartitioned
  Delta, SaveDelta.scala:163) — at 100 TB, date-partitioned layout is what
  makes partition pruning + incremental rewrite possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc_partitioned(spark: SparkSession, url: str, table: str,
                          partition_column: str, lower: int, upper: int,
                          num_partitions: int = 16,
                          properties: dict | None = None) -> DataFrame:
    """S4: partitioned JDBC scan. Each executor issues a range-bounded
    query; no single-task bottleneck. Construction is lazy — builds
    anywhere, connects on action (deployment-only; no DB in this env)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower))
        .option("upperBound", str(upper))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def _read_xlsx_stdlib(path: str, sheet: str = "sheet1"):
    """Minimal xlsx reader on stdlib only (zipfile + ElementTree): xlsx is
    a zip of XML — sharedStrings.xml holds the string pool, each worksheet
    is a sparse cell grid. Covers the cell types the HR workbook (and any
    plain tabular export) uses: shared strings ('s'), inline strings
    ('inlineStr'), booleans ('b'), and numbers (default). Returns a pandas
    DataFrame with row 1 as the header; numeric cells come back as float
    (Excel's only numeric type — dates included, as serial day numbers,
    exactly like pandas+openpyxl before its date-style pass)."""
    import zipfile
    import xml.etree.ElementTree as ET

    import pandas as pd

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    z = zipfile.ZipFile(path)
    try:
        sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
        strings = ["".join(t.text or "" for t in si.iter(f"{ns}t"))
                   for si in sst.iter(f"{ns}si")]
    except KeyError:  # workbook with no string pool
        strings = []

    def col_idx(ref: str) -> int:
        n = 0
        for ch in ref:
            if ch.isalpha():
                n = n * 26 + (ord(ch.upper()) - 64)
            else:
                break
        return n - 1

    grid: list[dict[int, object]] = []
    root = ET.fromstring(z.read(f"xl/worksheets/{sheet}.xml"))
    for row in root.iter(f"{ns}row"):
        cells: dict[int, object] = {}
        for c in row.iter(f"{ns}c"):
            ref, ctype = c.get("r", ""), c.get("t")
            v = c.find(f"{ns}v")
            if ctype == "inlineStr":
                val: object = "".join(
                    t.text or "" for t in c.iter(f"{ns}t"))
            elif v is None or v.text is None:
                continue
            elif ctype == "s":
                val = strings[int(v.text)]
            elif ctype == "b":
                val = v.text == "1"
            else:
                val = float(v.text)
            cells[col_idx(ref)] = val
        if cells:
            grid.append(cells)
    if not grid:
        return pd.DataFrame()
    header_cells, data = grid[0], grid[1:]
    width = max(max(r) for r in grid) + 1
    cols = [str(header_cells.get(i, f"col_{i}")) for i in range(width)]
    return pd.DataFrame(
        [[r.get(i) for i in range(width)] for r in data], columns=cols)


def read_excel(spark: SparkSession, path: str, sheet: str | int = 0) -> DataFrame:
    """S5: HR-workbook ingestion (commute_validation.py:187 reads
    ``Données+RH.xlsx`` with pandas). Driver-side parse — HR files are
    KB-scale dimension inputs — then Spark takes over via Arrow.

    pandas+openpyxl when available; otherwise the stdlib zip/XML parser
    above (same DataFrame shape), so the edge EXECUTES in this container
    — pinned against the real reference workbook in tests/test_xlsx.py."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet)
    except ImportError:  # no openpyxl in the container
        name = sheet if isinstance(sheet, str) else f"sheet{int(sheet) + 1}"
        pdf = _read_xlsx_stdlib(path, sheet=name)
    return spark.createDataFrame(pdf)


def read_tabular(spark: SparkSession, path: str, **options) -> DataFrame:
    """CSV twin of the Excel edge (same downstream transforms)."""
    return spark.read.options(header=True, inferSchema=True,
                              **options).csv(path)


def write_overwrite(df: DataFrame, path: str,
                    partition_by: list[str] | None = None) -> None:
    """K2: full-refresh batch sink (read_delta.py:219-222 semantics —
    overwriteSchema ≡ parquet overwrite). Partitioned layout opt-in."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_overwrite_partitions(df: DataFrame, path: str,
                               partition_by: list[str]) -> None:
    """K2 at scale: DYNAMIC partition overwrite — rewrite only the
    partitions present in ``df`` (Delta ``replaceWhere`` semantics on
    parquet), leaving every other partition's files physically untouched.
    This is what the reference's full-table ``overwriteSchema`` rewrite
    (read_delta.py:219-222) becomes at 100 TB: the nightly batch touches
    the affected dates, not the table. Untouched-files invariant pinned in
    tests/test_jdbc.py::test_partition_overwrite_is_incremental."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by)
     .parquet(path))


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               properties: dict | None = None) -> None:
    """K3: bulk JDBC insert — the execute_values batch loop
    (sql_scripts.py:104-148) is one line in Spark; batching/parallelism come
    from the partition layout. Deployment-only in this env."""
    df.write.jdbc(url=url, table=table, mode=mode,
                  properties=properties or {})


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 32) -> None:
    """Bucketed managed table: co-locates join/agg keys at WRITE time so
    repeated joins on the key run with ZERO exchange (the 100 TB answer to
    the lineitem⋈orders shuffle — pay the partitioning once, reuse it every
    query). Sorted within buckets so sort-merge join skips its sort too."""
    (df.write.mode("overwrite")
     .bucketBy(n_buckets, *bucket_cols)
     .sortBy(*bucket_cols)
     .saveAsTable(table))


def show_sample(df: DataFrame, n: int = 5) -> None:
    """K6: console progress display (read_delta.py:255-287)."""
    df.show(n, truncate=False)
