"""Stateless per-record transformers (reference parity set).

csv / field / rename / flow / log / json / code / command / block —
each a DataFrame→DataFrame compile step; the reference applies these one
record at a time (``OETLPipeline.java:98-139``), we emit one Catalyst plan.
"""

from __future__ import annotations

import json as _json
import re
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orientdb_etl_spark.context import PipelineContext
from orientdb_etl_spark.exprs import translate_osql
from orientdb_etl_spark.operators import register


class ETLHaltError(RuntimeError):
    """≈ OETLProcessHaltedException (OFlowTransformer.java:60)."""


# --------------------------------------------------------------------------
# csv
# --------------------------------------------------------------------------

_OTYPE_TO_SPARK: dict[str, T.DataType] = {
    "STRING": T.StringType(),
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "LONG": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
    "SHORT": T.ShortType(),
    "BYTE": T.ByteType(),
    "DATE": T.DateType(),
    "DATETIME": T.TimestampType(),
    "TIMESTAMP": T.TimestampType(),
    "BINARY": T.BinaryType(),
}


def _parse_columns(columns: list[str]) -> T.StructType:
    """``name:TYPE`` declarations (OCSVTransformer.java:62-75)."""
    fields = []
    for c in columns:
        if ":" in c:
            name, otype = c.split(":", 1)
            m = re.match(r"DECIMAL\((\d+),(\d+)\)", otype.strip().upper())
            if m:
                dt: T.DataType = T.DecimalType(int(m.group(1)), int(m.group(2)))
            else:
                dt = _OTYPE_TO_SPARK.get(otype.strip().upper(), T.StringType())
        else:
            name, dt = c, T.StringType()
        fields.append(T.StructField(name.strip(), dt, True))
    return T.StructType(fields)


def _infer_csv_schema(
    sample_lines: list[str], sep: str, quote: str, header: list[str] | None
) -> T.StructType:
    """Reference-style per-value inference folded to one column type
    (OCSVTransformer.java:141-166): quoted → string; numeric with
    separator → double; plain digits → long; else string. A column is
    given the widest type observed in the sample."""
    import csv as _csv

    rows = list(
        _csv.reader(sample_lines, delimiter=sep, quotechar=quote or '"')
    )
    if not rows:
        return T.StructType([])
    width = max(len(r) for r in rows)
    names = header if header else [f"_c{i}" for i in range(width)]
    kinds = ["empty"] * width  # empty < long < double < string
    order = {"empty": 0, "long": 1, "double": 2, "string": 3}
    for r in rows:
        for i, v in enumerate(r[:width]):
            v = v.strip()
            if not v:
                continue
            if re.fullmatch(r"[+-]?\d+", v):
                k = "long"
            elif re.fullmatch(r"[+-]?\d[\d,]*[.,]\d*([eE][+-]?\d+)?", v):
                k = "double"
            else:
                k = "string"
            if order[k] > order[kinds[i]]:
                kinds[i] = k
    type_map = {
        "empty": T.StringType(),
        "long": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
    }
    return T.StructType(
        [
            T.StructField(names[i] if i < len(names) else f"_c{i}", type_map[k], True)
            for i, k in enumerate(kinds)
        ]
    )


@register("csv")
def csv_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Parse a string `value` column into typed columns
    (≈ OCSVTransformer.java:30-181).

    Scale note: the compiler's fused path (file source + csv extractor →
    ``spark.read.csv``) is preferred for large inputs; this mid-pipeline
    variant exists for reference-config compatibility (row extractor → csv
    transformer) and for CSV payloads embedded in other sources. The
    header/skip-window handling needs a global line number, which is a
    narrow window over the natural read order — acceptable for config-compat
    inputs, not the bulk path.
    """
    col = cfg.get("field", "value")
    sep = cfg.get("separator", ",")
    quote = cfg.get("stringCharacter", '"')
    null_value = cfg.get("nullValue")
    header_first = bool(cfg.get("columnsOnFirstLine", False))
    skip_from, skip_to = cfg.get("skipFrom"), cfg.get("skipTo")

    needs_lineno = header_first or skip_from is not None
    if needs_lineno:
        w = Window.orderBy(F.monotonically_increasing_id())
        df = df.withColumn("_line_no", F.row_number().over(w))

    header_names: list[str] | None = None
    if header_first:
        first = df.orderBy("_line_no").select(col).first()
        if first is not None and first[0] is not None:
            import csv as _csv

            header_names = next(
                _csv.reader([first[0]], delimiter=sep, quotechar=quote or '"')
            )
            header_names = [h.strip() for h in header_names]
        df = df.filter(F.col("_line_no") > 1)

    if skip_from is not None and skip_to is not None:
        # 1-based data-row window dropped (OCSVTransformer.java:95-102)
        base = 1 if header_first else 0
        df = df.filter(
            ~F.col("_line_no").between(int(skip_from) + base, int(skip_to) + base)
        )
    if needs_lineno:
        df = df.drop("_line_no")

    if cfg.get("columns"):
        schema = _parse_columns(cfg["columns"])
    else:
        sample = [r[0] for r in df.select(col).limit(200).collect() if r[0]]
        schema = _infer_csv_schema(sample, sep, quote, header_names)

    options = {"sep": sep, "mode": "PERMISSIVE"}
    if quote:
        options["quote"] = quote
    if null_value is not None:
        options["nullValue"] = null_value
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    parsed = df.withColumn("_parsed", F.from_csv(F.col(col), ddl, options))
    keep = [c for c in df.columns if c != col and c != "_parsed"]
    return parsed.select(*keep, "_parsed.*")


# --------------------------------------------------------------------------
# field / rename
# --------------------------------------------------------------------------


@register("field")
def field_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Set a field from an expression/literal, or remove fields
    (≈ OFieldTransformer.java:28-111)."""
    op = str(cfg.get("operation", "set")).lower()
    if op == "remove":
        names = cfg.get("fieldNames") or [cfg["fieldName"]]
        return df.drop(*[n for n in names if n in df.columns])
    name = cfg["fieldName"]
    if "expression" in cfg:
        sql = translate_osql(str(cfg["expression"]), ctx.variables)
        return df.withColumn(name, F.expr(sql))
    value = cfg.get("value")
    if isinstance(value, str) and value.startswith("$"):
        value = ctx.variables.get(value[1:], value)
    return df.withColumn(name, F.lit(value))


@register("rename")
def rename_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Rename fields {old: new} (≈ ORenameTransformer.java:27-69; we do NOT
    replicate the bug where reserved keys like `if`/`log` become renames)."""
    mapping = cfg.get("fields", {k: v for k, v in cfg.items() if k not in ("if", "output", "log", "fields")})
    out = df
    for old, new in mapping.items():
        if old in out.columns:
            out = out.withColumnRenamed(old, str(new))
    return out


# --------------------------------------------------------------------------
# flow / log
# --------------------------------------------------------------------------


@register("flow")
def flow_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """skip → drop rows; halt → fail the run if any row reaches it
    (≈ OFlowTransformer.java:28-62; honors documented intent, not the
    config-time bug at :45). Combined with `if`, the wrapper routes only
    matching rows here, so `skip` drops exactly the matched rows and
    `halt` acts as a validation gate on them."""
    op = str(cfg.get("operation", "skip")).lower()
    if op == "skip":
        return df.filter(F.lit(False))
    if op == "halt":
        # validation gate: immediate existence check (one cheap limit(1) action)
        if df.limit(1).count() > 0:
            msg = cfg.get("message", "flow halt condition met")
            ctx.stats.error(msg)
            raise ETLHaltError(msg)
        return df
    raise ValueError(f"flow operation must be skip|halt, got {op!r}")


@register("log")
def log_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Observability without a per-row stage (≈ OLogTransformer.java:30-61):
    attaches a named `observe` counter; optional driver-side sample print."""
    name = cfg.get("name", f"log_{len(ctx.stats.notes)}")
    out = df.observe(name, F.count(F.lit(1)).alias("rows"))
    n = int(cfg.get("sample", 0))
    if n > 0:
        prefix = cfg.get("prefix", "")
        postfix = cfg.get("postfix", "")
        for row in out.take(n):
            print(f"{prefix}{row.asDict()}{postfix}")
    return out


# --------------------------------------------------------------------------
# json
# --------------------------------------------------------------------------


@register("json")
def json_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Parse a JSON string column into typed columns
    (≈ OJSONTransformer.java:23-38) via ``from_json``."""
    col = cfg.get("field", "value")
    if "schema" in cfg:
        schema = cfg["schema"]
    else:
        sample = [r[0] for r in df.select(col).filter(F.col(col).isNotNull()).limit(20).collect()]
        if not sample:
            return df
        schema = _merge_json_schemas(sample)
    parsed = df.withColumn("_parsed", F.from_json(F.col(col), schema))
    keep = [c for c in df.columns if c != col]
    drop_source = bool(cfg.get("dropSource", True))
    if not drop_source:
        keep = df.columns
    return parsed.select(*keep, "_parsed.*")


def _merge_json_schemas(samples: list[str]) -> T.StructType:
    """Infer a StructType from sample JSON strings (driver-side, bounded)."""
    merged: dict[str, T.DataType] = {}
    for s in samples:
        try:
            obj = _json.loads(s)
        except (ValueError, TypeError):
            continue
        if not isinstance(obj, dict):
            continue
        for k, v in obj.items():
            merged[k] = _wider(merged.get(k), _py_to_spark(v))
    return T.StructType([T.StructField(k, v, True) for k, v in merged.items()])


def _py_to_spark(v: Any) -> T.DataType:
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, list):
        inner: T.DataType = T.StringType()
        for x in v:
            inner = _wider(inner, _py_to_spark(x)) if x is not None else inner
        return T.ArrayType(inner)
    if isinstance(v, dict):
        return T.StructType(
            [T.StructField(k, _py_to_spark(x), True) for k, x in v.items()]
        )
    return T.StringType()


def _wider(a: T.DataType | None, b: T.DataType) -> T.DataType:
    if a is None or a == b:
        return b
    num = (T.LongType(), T.DoubleType())
    if a in num and b in num:
        return T.DoubleType()
    return T.StringType()


# --------------------------------------------------------------------------
# code / command / block
# --------------------------------------------------------------------------


@register("code")
def code_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """The escape hatch (≈ OCodeTransformer.java:34-81, which hosts per-row
    JavaScript). Ours is Python over the whole DataFrame — a callable or an
    expression string evaluated with {df, F, T, spark, ctx} in scope. Still
    declarative: the code builds a lineage, it does not loop over rows."""
    fn = cfg.get("callable")
    if callable(fn):
        out = fn(df)
    else:
        language = str(cfg.get("language", "python")).lower()
        if language != "python":
            raise ValueError(f"code transformer supports python, got {language!r}")
        out = eval(  # noqa: S307 — engine-author-supplied config code
            cfg["code"],
            {"df": df, "F": F, "T": T, "spark": ctx.spark, "ctx": ctx},
        )
    if not isinstance(out, DataFrame):
        raise TypeError("code transformer must return a DataFrame")
    return out


@register("command")
def command_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Run a SQL command; the result replaces the payload
    (≈ OCommandTransformer.java:32-80). The reference executes per row —
    here the command runs ONCE, decorrelated: the incoming lineage is
    registered as the view `input` so the command can join against it."""
    df.createOrReplaceTempView("input")
    sql = str(cfg["command"])
    for name in sorted(ctx.variables, key=len, reverse=True):
        val = ctx.variables[name]
        if isinstance(val, DataFrame):
            continue
        sql = sql.replace("${" + name + "}", str(val)).replace(f"${name}", str(val))
    return ctx.spark.sql(sql)


@register("block")
def block_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Run a begin/end-style block mid-chain; identity on the payload
    (≈ OBlockTransformer.java:31-74). Driver-side, once — not per row."""
    from orientdb_etl_spark.blocks import run_block

    inner = {k: v for k, v in cfg.items() if k not in ("if", "output", "log")}
    ctx.variables["input"] = df
    run_block(ctx, inner)
    return df
