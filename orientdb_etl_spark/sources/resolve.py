"""Resolve (source, extractor) config sections to an initial DataFrame."""

from __future__ import annotations

import io
import sys
import tempfile
import urllib.request
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.context import PipelineContext


def _single_entry(section: dict[str, Any], what: str) -> tuple[str, dict[str, Any]]:
    if not isinstance(section, dict) or len(section) != 1:
        raise ValueError(f"{what} section must be a single-key dict, got {section!r}")
    name, cfg = next(iter(section.items()))
    return name, (cfg or {})


def _stage_http(cfg: dict[str, Any]) -> str:
    """Driver-side HTTP fetch staged to a local temp file
    (≈ OHttpSource.java:74-116). At 100 TB scale an HTTP endpoint is a
    manifest/control-plane input, not a data path — staging on the driver
    is the honest design, and the staged file is then read distributed."""
    import os
    from urllib.parse import urlparse

    url = cfg["url"]
    method = str(cfg.get("method", "GET")).upper()
    req = urllib.request.Request(url, method=method)
    for k, v in (cfg.get("headers") or {}).items():
        req.add_header(k, str(v))
    with urllib.request.urlopen(req, timeout=float(cfg.get("timeout", 60))) as resp:
        data = resp.read()
    # keep the URL's extension so Spark's extension-driven codecs (.gz)
    # stay transparent on the staged copy
    suffix = os.path.splitext(urlparse(url).path)[1] or ".dat"
    tf = tempfile.NamedTemporaryFile(prefix="etl_http_", suffix=suffix, delete=False)
    tf.write(data)
    tf.close()
    return tf.name


def _stage_stdin() -> str:
    """stdin → temp file (≈ OInputSource.java:30-51)."""
    data = sys.stdin.read()
    tf = tempfile.NamedTemporaryFile(
        prefix="etl_stdin_", suffix=".txt", delete=False, mode="w"
    )
    tf.write(data)
    tf.close()
    return tf.name


def resolve_source(
    ctx: PipelineContext,
    source: dict[str, Any] | None,
    extractor: dict[str, Any] | None,
) -> DataFrame:
    """Compile the source+extractor pair into one declarative read."""
    spark = ctx.spark
    src_name, src_cfg = (
        _single_entry(source, "source") if source else ("input", {})
    )
    ext_name, ext_cfg = (
        _single_entry(extractor, "extractor") if extractor else ("row", {})
    )

    # --- manifest mode: N urls/paths fetched DISTRIBUTED ------------------
    # {"http": {"urls": [...]}} or {"http": {"manifestPath": "urls.txt"}}
    # (also under the "files" source name) — the scale path: the manifest
    # becomes a DataFrame, executors fetch their slices, the driver never
    # stages bytes (contrast the single-url branch below, which keeps
    # OHttpSource.java:36-117 driver-staging parity for control-plane
    # inputs). Row extractor → (url, line_no, value) line rows ready for
    # the csv/json transformers; "binary" extractor → opaque content rows
    # feeding the multimodal operators.
    if src_name in ("http", "files") and (
        "urls" in src_cfg or "manifestPath" in src_cfg
    ):
        from orientdb_etl_spark.sources.manifest import fetch_manifest

        if "urls" in src_cfg:
            manifest = list(src_cfg["urls"])
            urls_df = spark.createDataFrame(
                [(str(u),) for u in manifest], "url string"
            )
        else:
            # the manifest file itself is read distributed; '#' comments
            # and blank lines are manifest hygiene, not data
            urls_df = (
                spark.read.text(src_cfg["manifestPath"])
                .select(F.trim("value").alias("url"))
                .filter((F.col("url") != "") & ~F.col("url").startswith("#"))
            )
        kwargs = dict(
            max_concurrency=int(src_cfg.get("maxConcurrency", 8)),
            timeout=float(src_cfg.get("timeout", 60)),
            retries=int(src_cfg.get("retries", 2)),
            on_error=str(src_cfg.get("onError", "keep")),
            partitions=src_cfg.get("partitions"),
            # resume: skip URLs recorded by record_manifest_state on a
            # prior run (see sources/manifest.py for the crash-safety
            # contract — the consumer records state AFTER its sink commit)
            state_path=src_cfg.get("statePath"),
        )
        if ext_name == "row":
            return fetch_manifest(urls_df, mode="lines", **kwargs)
        if ext_name == "binary":
            return fetch_manifest(urls_df, mode="binary", **kwargs)
        raise ValueError(
            f"manifest source supports extractors row|binary, got {ext_name!r} "
            "(parse lines with the csv/json transformers)"
        )

    # --- resolve the byte source to a path --------------------------------
    # Staged lazily: table/query/jdbc/parquet-with-path extractors never
    # consume the byte source, and stdin/http staging is an immediate side
    # effect that must not fire unless a path-based extractor needs it.
    needs_path = ext_name in ("row", "json", "csv") or (
        ext_name in ("parquet", "orc") and "path" not in ext_cfg
    )
    path: str | None = None
    if needs_path:
        if src_name == "file":
            path = src_cfg["path"]  # .gz is transparent to every Spark reader
        elif src_name == "http":
            path = _stage_http(src_cfg)
        elif src_name == "input":
            path = _stage_stdin()
        elif src_name != "none":
            raise ValueError(f"unknown source {src_name!r}")

    # --- extractor -> spark.read -----------------------------------------
    if ext_name == "row":
        # one String payload per line (≈ ORowExtractor.java:28-83)
        return spark.read.text(path)
    if ext_name == "json":
        # top-level array => multiLine; NDJSON default
        # (≈ OJsonExtractor.java:75-90 array/object detection)
        multi = bool(ext_cfg.get("multiLine", _sniff_json_array(path)))
        reader = spark.read.option("multiLine", str(multi).lower())
        if "schema" in ext_cfg:
            reader = reader.schema(ext_cfg["schema"])
        return reader.json(path)
    if ext_name == "csv":
        # fused fast path (source+row+csv in one scan)
        opts = {
            "sep": ext_cfg.get("separator", ","),
            "quote": ext_cfg.get("stringCharacter", '"'),
            "header": str(bool(ext_cfg.get("columnsOnFirstLine", True))).lower(),
        }
        if "nullValue" in ext_cfg:
            opts["nullValue"] = ext_cfg["nullValue"]
        reader = spark.read.options(**opts)
        if "schema" in ext_cfg:
            reader = reader.schema(ext_cfg["schema"])
        elif ext_cfg.get("inferSchema"):
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    if ext_name == "jdbc":
        # partitioned parallel scan, not the reference's single forward-only
        # cursor (OJDBCExtractor.java:47-314). Type mapping is built-in.
        reader = (
            spark.read.format("jdbc")
            .option("url", ext_cfg["url"])
            .option("fetchsize", str(ext_cfg.get("fetchSize", 10000)))
        )
        if "driver" in ext_cfg:
            reader = reader.option("driver", ext_cfg["driver"])
        for k in ("user", "userName"):
            if k in ext_cfg:
                reader = reader.option("user", ext_cfg[k])
        if "userPassword" in ext_cfg:
            reader = reader.option("password", ext_cfg["userPassword"])
        if "password" in ext_cfg:
            reader = reader.option("password", ext_cfg["password"])
        if "query" in ext_cfg:
            reader = reader.option("query", ext_cfg["query"])
        elif "dbtable" in ext_cfg:
            reader = reader.option("dbtable", ext_cfg["dbtable"])
        for k in ("partitionColumn", "lowerBound", "upperBound", "numPartitions"):
            if k in ext_cfg:
                reader = reader.option(k, str(ext_cfg[k]))
        return reader.load()
    if ext_name == "parquet":
        return spark.read.parquet(ext_cfg.get("path", path))
    if ext_name == "orc":
        return spark.read.orc(ext_cfg.get("path", path))
    if ext_name == "table":
        name = ext_cfg["name"]
        if name in ctx.tables:
            return ctx.tables[name]
        return spark.table(name)
    if ext_name == "query":
        return spark.sql(ext_cfg["sql"])
    raise ValueError(f"unknown extractor {ext_name!r}")


def _sniff_json_array(path: str | None) -> bool:
    """Peek at the first non-whitespace byte: '[' => top-level array
    (the json extractor's primary mode, OJsonExtractor.java:75-90)."""
    if path is None:
        return False
    try:
        opener = open
        if str(path).endswith(".gz"):
            import gzip

            opener = gzip.open
        with opener(path, "rb") as f:
            head = f.read(256)
        first = head.lstrip()[:1]
        return first == b"["
    except (OSError, IsADirectoryError):
        return False
