"""Loaders (sinks): the terminal side of a pipeline.

Reference set (``etl/loader/``): orientdb / output / memory. Spark-first
mapping: the OrientDB graph/document store becomes table-shaped sinks —
JDBC (the declared spark_approach), parquet, csv, json, console, memory.
Vertices/edges accumulate as two DataFrames and write to two tables.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.context import PipelineContext

# OrientDB OType → Spark SQL type (the property side of the loader's
# schema DDL, OOrientDBLoader.java:406-432 / OType.valueOf)
_OTYPE_TO_SPARK = {
    "STRING": "string",
    "INTEGER": "int",
    "LONG": "bigint",
    "SHORT": "smallint",
    "BYTE": "tinyint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "DECIMAL": "decimal(38,18)",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "DATETIME": "timestamp",
    "BINARY": "binary",
}


def apply_classes_ddl(df: DataFrame, classes: list[dict] | None) -> DataFrame:
    """``classes`` config → enforce declared property types on matching
    columns (≈ OOrientDBLoader.java:406-432: getOrCreateClass +
    createProperty). Spark's sink-side analog of "assure the classes
    exist or create them" is a typed cast on the outgoing columns —
    `extends`/`abstract` are class-hierarchy concepts with no table
    analog and are accepted as no-ops."""
    for cls in classes or []:
        for fld in cls.get("fields") or []:
            fname = fld["name"]
            ftype = _OTYPE_TO_SPARK[str(fld["type"]).upper()]
            if fname in df.columns:
                df = df.withColumn(fname, F.col(fname).cast(ftype))
    return df


def index_specs(indexes: list[dict] | None) -> list[dict]:
    """Normalize ``indexes`` config docs (≈ OOrientDBLoader.java:435-513):
    field specs are ``"name:type"`` (type used to auto-create the
    property); the default index name is ``Class.f1_f2``."""
    specs = []
    for idx in indexes or []:
        if "class" not in idx:
            raise ValueError("Index 'class' missed in OrientDB Loader")
        if "type" not in idx:
            raise ValueError("Index 'type' missed in OrientDB Loader")
        if "fields" not in idx:
            raise ValueError("Index 'fields' missed in OrientDB Loader")
        fields, ftypes = [], {}
        for spec in idx["fields"]:
            parts = str(spec).split(":")
            fields.append(parts[0])
            if len(parts) > 1:
                ftypes[parts[0]] = _OTYPE_TO_SPARK.get(parts[1].upper())
        name = idx.get("name") or f"{idx['class']}." + "_".join(fields)
        specs.append(
            {
                "name": name,
                "class": idx["class"],
                "type": str(idx["type"]).upper(),
                "fields": fields,
                "field_types": ftypes,
            }
        )
    return specs


def _validate_unique(df: DataFrame, specs: list[dict]) -> None:
    """UNIQUE-index batch validation: the reference's UNIQUE index makes a
    duplicate insert throw and halt the load; the batch analog is one
    hash-aggregation over the outgoing keys (map-side combined) that
    halts before the write."""
    from orientdb_etl_spark.operators.core import ETLHaltError

    for spec in specs:
        if spec["type"] != "UNIQUE":
            continue
        cols = [c for c in spec["fields"] if c in df.columns]
        if not cols:
            continue
        dup = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ETLHaltError(
                f"UNIQUE index {spec['name']!r} violated on {cols}"
            )


def _create_jdbc_indexes(spark, url: str, table: str, specs: list[dict]) -> None:
    """Issue CREATE [UNIQUE] INDEX on the JDBC sink — the real DDL half of
    OOrientDBLoader.java:435-513 when the sink is a SQL database. Index
    names are sanitized (``Class.f1`` → ``Class_f1_idx``); existing
    indexes are left in place (ensure-exists semantics)."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        for spec in specs:
            idx_name = spec["name"].replace(".", "_") + "_idx"
            unique = "UNIQUE " if spec["type"] == "UNIQUE" else ""
            cols = ", ".join(f'"{c}"' for c in spec["fields"])
            try:
                stmt.executeUpdate(
                    f'CREATE {unique}INDEX "{idx_name}" ON {table} ({cols})'
                )
            except Exception as exc:  # noqa: BLE001
                # ensure-exists: "already exists" is fine, anything else is not
                if "already exists" not in str(exc).lower():
                    raise
        stmt.close()
    finally:
        conn.close()


def run_loader(
    ctx: PipelineContext, df: DataFrame, loader: dict[str, Any] | None
) -> None:
    if loader is None:
        loader = {"memory": {}}
    if len(loader) != 1:
        raise ValueError("loader must be a single-key dict")
    name, cfg = next(iter(loader.items()))
    cfg = cfg or {}

    if name == "output":
        # ≈ OOutputLoader.java:27-52 (stdout per record → bounded show)
        df.show(int(cfg.get("limit", 20)), truncate=bool(cfg.get("truncate", True)))
    elif name == "memory":
        # ≈ OMemoryLoader.java:31-69 (collect for sub-ETL / inspection).
        # Capped: an uncapped driver collect is the one forbidden pattern.
        view = cfg.get("view", "etl_result")
        df.createOrReplaceTempView(view)
        ctx.outputs[view] = df
    elif name == "parquet":
        if cfg.get("mode") == "merge":
            # batch MERGE sink: last-writer-wins upsert by key into the
            # hash-bucket-partitioned parquet layout — the SAME callback
            # the streaming side uses (streaming/ops.py:foreach_batch_upsert),
            # so re-runs are idempotent (NULL keys too) and one windowed
            # write pass, with no cache, reads and rewrites only touched
            # bucket partitions (≈ Delta/Iceberg MERGE INTO on plain
            # parquet). ``keys`` is required; batch rows beat target rows,
            # and ``orderBy`` picks the winner inside a batch (newest wins).
            from orientdb_etl_spark.streaming.ops import foreach_batch_upsert

            if not cfg.get("keys"):
                raise ValueError("parquet merge mode needs 'keys'")
            fn = foreach_batch_upsert(
                cfg["path"],
                list(cfg["keys"]),
                cfg.get("orderBy"),
                int(cfg.get("numBuckets", 64)),
            )
            fn(df, 0)
            return
        if cfg.get("zorderBy"):
            # multi-dimensional data-skipping layout: Morton-interleave the
            # named columns' bits so every output file is narrow in EVERY
            # clustered dimension (see functions/layout.py); sortBy covers
            # the single-dimension case
            from orientdb_etl_spark.functions.layout import zorder_layout

            df = zorder_layout(
                df,
                list(cfg["zorderBy"]),
                bits=int(cfg.get("zorderBits", 16)),
                num_files=int(cfg.get("numFiles", 0)),
                keep_key=bool(cfg.get("keepZorderKey")),
            )
        elif cfg.get("sortBy"):
            # data-skipping layout: range-partition then sort within each
            # task so every output file covers a narrow, near-disjoint key
            # range — parquet row-group min/max stats then let any reader
            # skip most files for selective key predicates (the poor-man's
            # Z-order for a single sort dimension, and the single biggest
            # lever for selective scans at 100 TB)
            sort_cols = [c for c in cfg["sortBy"]]
            n = int(cfg.get("numFiles", 0))
            df = (
                df.repartitionByRange(n, *sort_cols)
                if n
                else df.repartitionByRange(*sort_cols)
            ).sortWithinPartitions(*sort_cols)
        elif cfg.get("numFiles"):
            # compaction: bound the output file count (the small-files
            # problem — a 100 TB table written from 10k tasks at default
            # parallelism drowns the namenode/listing in tiny objects);
            # round-robin repartition gives evenly sized files
            df = df.repartition(int(cfg["numFiles"]))
        writer = df.write.mode(cfg.get("mode", "overwrite"))
        if cfg.get("partitionBy"):
            writer = writer.partitionBy(*cfg["partitionBy"])
        writer.parquet(cfg["path"])
    elif name == "csv":
        df.write.mode(cfg.get("mode", "overwrite")).option(
            "header", str(bool(cfg.get("header", True))).lower()
        ).csv(cfg["path"])
    elif name == "json":
        df.write.mode(cfg.get("mode", "overwrite")).json(cfg["path"])
    elif name == "orc":
        # columnar interchange twin of the parquet path sink (the orc
        # extractor in sources/resolve.py reads it back)
        writer = df.write.mode(cfg.get("mode", "overwrite"))
        if cfg.get("partitionBy"):
            writer = writer.partitionBy(*cfg["partitionBy"])
        writer.orc(cfg["path"])
    elif name == "table":
        # managed-table sink with optional bucketing: two tables bucketed
        # on the same key join WITHOUT a shuffle (Exchange elided) — the
        # co-located-join strategy for repeated large-fact joins at scale
        writer = df.write.mode(cfg.get("mode", "overwrite")).format(
            cfg.get("format", "parquet")
        )
        if cfg.get("bucketBy"):
            b = cfg["bucketBy"]
            writer = writer.bucketBy(int(b["n"]), *b["columns"])
            writer = writer.sortBy(*cfg.get("sortBy", b["columns"]))
        writer.saveAsTable(cfg["name"])
    elif name == "jdbc":
        # dbAutoCreate/dbAutoDropIfExists ≈ save modes; batchCommit ≈ batchsize
        # (OOrientDBLoader.java:181-194, 265-301)
        writer = (
            df.write.format("jdbc")
            .mode(cfg.get("mode", "append"))
            .option("url", cfg["url"])
            .option("dbtable", cfg["dbtable"])
            .option("batchsize", str(cfg.get("batchCommit", cfg.get("batchsize", 1000))))
        )
        for k in ("driver", "user", "password", "createTableColumnTypes"):
            if k in cfg:
                writer = writer.option(k, cfg[k])
        writer.save()
    elif name == "orientdb":
        # Graph/document store sink. Without an OrientDB cluster we map the
        # declared classes/indexes to table-shaped outputs: documents →
        # parquet/JDBC table; graph mode → vertices + edges tables
        # (≈ OOrientDBLoader.java:145-198 save paths, 406-513 schema/index
        # DDL, which becomes real sink-side DDL in the JDBC case).
        df = apply_classes_ddl(df, cfg.get("classes"))
        specs = index_specs(cfg.get("indexes"))
        _validate_unique(df, specs)

        url = cfg.get("dbURL") or cfg.get("url")
        path = cfg.get("path")
        if url and str(url).startswith("jdbc:"):
            table = cfg.get("class", "documents")
            (
                df.write.format("jdbc")
                .mode(cfg.get("mode", "overwrite"))
                .option("url", url)
                .option("dbtable", table)
                .option(
                    "batchsize",
                    str(cfg.get("batchCommit", cfg.get("batchsize", 1000))),
                )
                .save()
            )
            _create_jdbc_indexes(ctx.spark, url, table, specs)
        elif path:
            df.write.mode(cfg.get("mode", "overwrite")).parquet(f"{path}/documents")
            if ctx.vertices:
                vertices_df(ctx).write.mode("overwrite").parquet(f"{path}/vertices")
            if ctx.edges:
                edges_df(ctx).write.mode("overwrite").parquet(f"{path}/edges")
        else:
            view = cfg.get("view", "etl_result")
            df.createOrReplaceTempView(view)
            ctx.outputs[view] = df
    else:
        raise ValueError(f"unknown loader {name!r}")


def vertices_df(ctx: PipelineContext) -> DataFrame | None:
    """Union of all vertex classes (allowMissingColumns — classes have
    different property sets, like the schemaless reference)."""
    if not ctx.vertices:
        return None
    out = ctx.vertices[0]
    for v in ctx.vertices[1:]:
        out = out.unionByName(v, allowMissingColumns=True)
    return out


def edges_df(ctx: PipelineContext) -> DataFrame | None:
    if not ctx.edges:
        return None
    out = ctx.edges[0]
    for e in ctx.edges[1:]:
        out = out.unionByName(e, allowMissingColumns=True)
    return out
