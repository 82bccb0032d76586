"""Column-shape directives (SURVEY.md §2.3).

Reference classes under wrangler-core io/cdap/directives/column/:
Drop, Keep, Rename, Copy, Merge, Swap, SetHeader, ChangeColCaseNames,
CleanseColumnNames, ColumnsReplace, SetType, SplitToColumns,
CreateRecord, FlattenRecord.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from wrangler_spark.errors import SchemaError, UsageError
from wrangler_spark.recipe.parser import DirectiveCall
from wrangler_spark.recipe.registry import RecipeContext, directive


def _resolve(df: DataFrame, name: str) -> str | None:
    """Case-insensitive column resolution (reference Row.find, Row.java:173-181)."""
    low = name.lower()
    for c in df.columns:
        if c.lower() == low:
            return c
    return None


def _require(df: DataFrame, name: str) -> str:
    c = _resolve(df, name)
    if c is None:
        raise SchemaError(f"column {name!r} not found; have {df.columns}")
    return c


@directive("drop")
def drop(call: DirectiveCall):
    cols = call.cols(0)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        resolved = [c for c in (_resolve(df, x) for x in cols) if c]
        return df.drop(*resolved)

    return tr


@directive("keep")
def keep(call: DirectiveCall):
    cols = call.cols(0)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        return df.select(*[_require(df, c) for c in cols])

    return tr


@directive("rename")
def rename(call: DirectiveCall):
    src, dst = call.col(0), call.col(1)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        s = _require(df, src)
        if _resolve(df, dst) and dst.lower() != s.lower():
            # reference errors when target exists (utils/ColumnConverter.java:49-66)
            raise SchemaError(f"rename: column {dst!r} already exists")
        return df.withColumnRenamed(s, dst)

    return tr


@directive("copy")
def copy(call: DirectiveCall):
    src, dst = call.col(0), call.col(1)
    force = call.bool_(2, default=False)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        s = _require(df, src)
        if _resolve(df, dst) and not force:
            raise SchemaError(f"copy: column {dst!r} exists (use force)")
        return df.withColumn(dst, F.col(s))

    return tr


@directive("merge")
def merge(call: DirectiveCall):
    c1, c2, dst = call.col(0), call.col(1), call.col(2)
    sep = call.text(3, default="")
    # reference Merge.java:78 StringEscapeUtils.unescapeJava: a
    # backslash-u escape in the recipe text becomes the real character
    # (e.g. backslash-u000A -> newline), backslash-t a tab, etc.
    if "\\" in sep:
        try:
            sep = sep.encode("latin-1", "backslashreplace").decode("unicode_escape")
        except UnicodeDecodeError:
            pass  # malformed escape → keep the literal separator

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        a, b = _require(df, c1), _require(df, c2)
        return df.withColumn(dst, F.concat_ws(sep, F.col(a).cast("string"), F.col(b).cast("string")))

    return tr


@directive("swap")
def swap(call: DirectiveCall):
    c1, c2 = call.col(0), call.col(1)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        a, b = _require(df, c1), _require(df, c2)
        cols = []
        for c in df.columns:
            if c == a:
                cols.append(F.col(b).alias(a))
            elif c == b:
                cols.append(F.col(a).alias(b))
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    return tr


@directive("set-headers", "set-columns", "set-header")
def set_headers(call: DirectiveCall):
    # validate on the RAW list — an empty segment (leading, doubled, or
    # trailing comma) is a compile-time error in the reference
    # (SetHeaderTest: `set-header ,A,B` etc. throw RecipeException);
    # call.cols() silently drops empties, so inspect the raw token
    raw = call.toks[0].raw if call.has(0) else ""
    if raw and "," in raw and not raw.startswith(":"):
        if any(not p.strip() for p in raw.split(",")):
            raise UsageError(
                f"set-headers: empty column name in {raw!r} "
                "(leading/trailing/doubled comma)"
            )
    names = call.cols(0)
    if not names or any(not n.strip() for n in names):
        raise UsageError("set-headers: column names must be non-empty")

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        if len(names) != len(df.columns):
            # reference pads/ignores extras; be strict up to min length
            if len(names) < len(df.columns):
                full = names + df.columns[len(names):]
            else:
                full = names[: len(df.columns)]
        else:
            full = names
        return df.toDF(*full)

    return tr


@directive("change-column-case")
def change_column_case(call: DirectiveCall):
    mode = call.ident(0, default="lower").lower()

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        new = [c.upper() if mode.startswith("up") else c.lower() for c in df.columns]
        return df.toDF(*new)

    return tr


@directive("cleanse-column-names")
def cleanse_column_names(call: DirectiveCall):
    # lowercase + [^a-z0-9_] → _ (reference column/CleanseColumnNames.java:56)
    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        new = [re.sub(r"[^a-z0-9_]", "_", c.lower().strip()) for c in df.columns]
        return df.toDF(*new)

    return tr


@directive("columns-replace")
def columns_replace(call: DirectiveCall):
    sed = call.text(0)
    m = re.match(r"^s/((?:[^/\\]|\\.)*)/((?:[^/\\]|\\.)*)/?([gi]*)$", sed)
    if not m:
        raise UsageError(f"columns-replace: bad sed expression {sed!r}")
    pat, repl, flags = m.group(1), m.group(2), m.group(3)
    rx = re.compile(pat, re.IGNORECASE if "i" in flags else 0)
    count = 0 if "g" in flags else 1
    repl_py = re.sub(r"\$(\d)", r"\\\1", repl)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        new = [rx.sub(repl_py, c, count=count) for c in df.columns]
        return df.toDF(*new)

    return tr


_TYPE_MAP: dict[str, str] = {
    # reference name→type map: utils/ColumnConverter.java:359-375.
    # NOTE the counterintuitive aliases are bug-compat by design:
    # the reference's convertType (ColumnConverter.java:108,131)
    # treats I64 as Integer and I32 as Short — SetTypeTest.testToInt /
    # testToShort pin that behavior, so a drop-in replacement must too.
    "bool": "boolean", "boolean": "boolean",
    "byte": "tinyint", "i8": "tinyint",
    "short": "smallint", "i16": "smallint", "i32": "smallint",
    "int": "int", "integer": "int", "i64": "int",
    "long": "bigint", "bigint": "bigint",
    "float": "float", "f32": "float",
    "double": "double", "f64": "double",
    "string": "string", "text": "string",
    "bytes": "binary", "binary": "binary",
    "timestamp": "timestamp",
    "date": "date",
    "datetime": "timestamp_ntz",
    "decimal": "decimal",
}


@directive("set-type")
def set_type(call: DirectiveCall):
    col = call.col(0)
    tname = call.ident(1).lower()
    if tname not in _TYPE_MAP:
        raise UsageError(f"set-type: unknown type {tname!r}")
    scale = None
    rounding = "HALF_UP"
    i = 2
    if call.has(i) and call.toks[i].kind == "NUM":
        scale = call.int_(i)
        i += 1
    if call.has(i) and call.toks[i].kind in ("IDENT", "TEXT") and not str(call.toks[i].value).startswith("prop"):
        rounding = call.text(i).upper()
        i += 1
    props = call.prop(i) if call.has(i) else {}
    precision = int(props.get("precision", 38))

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        c = _require(df, col)
        if tname == "decimal":
            sc = scale if scale is not None else 6
            target = T.DecimalType(precision, sc)
            # exact java.math.RoundingMode semantics (reference
            # utils/ColumnConverter.java:305-334) — FLOOR/DOWN and
            # CEILING/UP differ for NEGATIVE values (toward -inf vs
            # toward zero, +inf vs away from zero). Arithmetic happens in
            # DECIMAL space: double→decimal casts go through the decimal
            # string representation (BigDecimal.valueOf semantics), so
            # 2.345·100 is exactly 234.5, not 234.50000000000003 — the
            # float-scaling artifact that breaks tie rounding.
            x = F.col(c).cast(T.DecimalType(38, 18))
            p = 10 ** sc
            # sign handling via when() branches, NOT signum-multiply:
            # F.signum returns DoubleType and a bare 0.5 literal is a
            # double, either of which would promote the decimal operand
            # to double and mis-round values past 2^53 (~15-16
            # significant digits). Every branch below stays in decimal.
            from decimal import Decimal as _D

            half = F.lit(_D("0.5"))
            if rounding == "HALF_UP":  # ties away from zero (= Spark round)
                expr = F.round(x, sc)
            elif rounding == "HALF_EVEN":
                expr = F.bround(x, sc)
            elif rounding == "HALF_DOWN":  # ties toward zero
                expr = F.when(
                    x < 0, -F.ceil(F.abs(x) * p - half) / p
                ).otherwise(F.ceil(x * p - half) / p)
            elif rounding == "FLOOR":  # toward -inf
                expr = F.floor(x * p) / p
            elif rounding == "CEILING":  # toward +inf
                expr = F.ceil(x * p) / p
            elif rounding == "DOWN":  # toward zero
                expr = F.when(
                    x < 0, -F.floor(F.abs(x) * p) / p
                ).otherwise(F.floor(x * p) / p)
            elif rounding == "UP":  # away from zero
                expr = F.when(
                    x < 0, -F.ceil(F.abs(x) * p) / p
                ).otherwise(F.ceil(x * p) / p)
            elif rounding == "UNNECESSARY":
                # reference throws when rounding would be needed
                expr = F.when(F.round(x, sc) == x, x).otherwise(
                    F.raise_error(
                        F.lit(f"set-type: rounding necessary for column {c!r} "
                              f"at scale {sc} (mode UNNECESSARY)")
                    )
                )
            else:
                raise UsageError(f"set-type: unsupported rounding {rounding!r}")
            return df.withColumn(c, expr.cast(target))
        t_spark = _TYPE_MAP[tname]
        src = df.schema[c].dataType
        numeric_src = isinstance(
            src, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)
        )
        if t_spark == "boolean":
            # reference ColumnConverter.java:176-198: numerics convert
            # via `> 0` (so -1 → false, unlike Spark's nonzero-is-true
            # cast) and strings via Boolean.parseBoolean (case-
            # insensitive 'true', everything else false — not null)
            if numeric_src:
                return df.withColumn(c, F.col(c) > 0)
            if isinstance(src, T.StringType):
                return df.withColumn(
                    c,
                    F.when(F.col(c).isNotNull(), F.lower(F.col(c)) == "true"),
                )
        if t_spark == "binary" and numeric_src:
            # reference Bytes.toBytes(<numeric>): big-endian two's
            # complement at the source width; float/double encode their
            # IEEE bit patterns (SetTypeTest.testToBytes fixtures, e.g.
            # int 10000 -> {0,0,39,16}, float 10000f -> {70,28,64,0}).
            if isinstance(src, T.DecimalType):
                # Bytes.toBytes(BigDecimal): 4-byte BE scale + the
                # minimal signed BigInteger.toByteArray() unscaled
                # bytes ({0,0,0,0,39,16} for 10000 scale 0). Arbitrary
                # precision → Arrow-batched UDF (cold-path conversion).
                import struct as _struct

                from pyspark.sql.functions import pandas_udf

                dec_scale = src.scale

                @pandas_udf("binary")
                def _dec_bytes(s: pd.Series) -> pd.Series:
                    def enc(v):
                        if v is None:
                            return None
                        unscaled = int(v.scaleb(dec_scale))
                        # Java BigInteger.bitLength: −128 fits 1 byte (0x80)
                        mag = unscaled if unscaled >= 0 else ~unscaled
                        nb = mag.bit_length() // 8 + 1
                        return _struct.pack(">i", dec_scale) + unscaled.to_bytes(
                            nb, "big", signed=True
                        )

                    return s.map(enc)

                return df.withColumn(c, _dec_bytes(F.col(c)))
            width = {
                T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
                T.LongType: 8, T.FloatType: 4, T.DoubleType: 8,
            }[type(src)]
            bits = F.col(c).cast("bigint")
            if isinstance(src, T.FloatType):
                bits = F.expr(
                    f"reflect('java.lang.Float', 'floatToIntBits', cast(`{c}` as float))"
                ).cast("bigint")
            elif isinstance(src, T.DoubleType):
                bits = F.expr(
                    f"reflect('java.lang.Double', 'doubleToLongBits', `{c}`)"
                ).cast("bigint")
            # hex of the 64-bit two's complement, low `width` bytes
            h = F.lpad(F.hex(bits), 16, "0")
            return df.withColumn(
                c, F.unhex(F.substring(h, -2 * width, 2 * width))
            )
        if isinstance(src, T.BinaryType) and t_spark in (
            "tinyint", "smallint", "int", "bigint", "float", "double"
        ):
            # reference Bytes.toInt/toShort/toLong/toFloat/toDouble:
            # big-endian two's complement (SetTypeTest byte[] fixtures).
            # conv(hex) yields the unsigned value; the downstream cast
            # truncates to the target width, recovering the sign.
            unsigned = F.conv(F.hex(F.col(c)), 16, 10).cast("decimal(20,0)")
            if t_spark in ("float", "double"):
                # IEEE bit pattern, not numeric value: route through
                # intBitsToFloat / longBitsToDouble via SQL reflect
                # (JVM-side; this conversion is cold-path by nature)
                fn = ("java.lang.Float", "intBitsToFloat", "int") \
                    if t_spark == "float" else \
                    ("java.lang.Double", "longBitsToDouble", "bigint")
                df = df.withColumn("__wr_bits", unsigned.cast(fn[2]))
                out = df.withColumn(
                    c,
                    F.expr(f"reflect('{fn[0]}', '{fn[1]}', __wr_bits)").cast(t_spark),
                )
                return out.drop("__wr_bits")
            return df.withColumn(c, unsigned.cast("bigint").cast(t_spark))
        return df.withColumn(c, F.col(c).cast(t_spark))

    return tr


@directive("split-to-columns")
def split_to_columns(call: DirectiveCall):
    col = call.col(0)
    regex = call.text(1)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        c = _require(df, col)
        arr = F.split(F.col(c).cast("string"), regex)
        # column count from a bounded data peek (reference emits per-row
        # ragged cells; a DataFrame needs a fixed schema). limit() keeps
        # this a cheap one-partition probe even at 100 TB.
        row = df.select(F.size(arr).alias("n")).limit(1000).agg(F.max("n").alias("n")).first()
        n = row["n"] or 1
        out = df
        for i in range(n):
            out = out.withColumn(f"{c}_{i + 1}", arr.getItem(i))
        return out

    return tr


@directive("create-record")
def create_record(call: DirectiveCall):
    dst = call.col(0)
    cols = call.cols(1)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        rs = [_require(df, c) for c in cols]
        return df.withColumn(dst, F.struct(*[F.col(c) for c in rs]))

    return tr


@directive("flatten-record")
def flatten_record(call: DirectiveCall):
    cols = call.cols(0)

    def tr(df: DataFrame, ctx: RecipeContext) -> DataFrame:
        for col in cols:
            c = _require(df, col)
            dt = df.schema[c].dataType
            if not isinstance(dt, T.StructType):
                raise SchemaError(f"flatten-record: {c!r} is not a record")
            for f_ in dt.fields:
                df = df.withColumn(f"{c}_{f_.name}", F.col(c).getField(f_.name))
            df = df.drop(c)
        return df

    return tr
