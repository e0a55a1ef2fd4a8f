"""Mirror validation: pre-flight checks run before a mirror starts, with
results as DATA (check rows), mirroring the reference's validate pass.

Reference parity (studied, not copied):
- flow/connectors/postgres/validate.go:37-128 CheckSourceTables — every
  source table must be selectable, excluded columns must resolve against the
  live schema, publication membership checked.
- flow/connectors/postgres/validate.go:276-360 ValidateMirrorDestination —
  every source column must exist in the destination with a compatible type;
  skipped entirely when cfg.Resync (the resync path recreates tables).
- flow/cmd/validate_mirror.go drives these and surfaces failures as
  structured responses, not exceptions — hence check ROWS here, with a
  `raise_on_failure` convenience matching the reference's error path.

Environment-level checks (wal_level, replication role, max_wal_senders,
IDENTIFY_SYSTEM) are source-database concerns with no Spark-side analog; the
engine-side equivalents are path readability and schema coherence.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark.storage import ParquetTable


@dataclass
class CheckResult:
    check: str
    table: str
    ok: bool
    detail: str


CHECK_SCHEMA = T.StructType(
    [
        T.StructField("check", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("detail", T.StringType()),
    ]
)


class MirrorValidationError(Exception):
    def __init__(self, failures: list[CheckResult]):
        self.failures = failures
        super().__init__(
            "; ".join(f"[{f.check}] {f.table}: {f.detail}" for f in failures)
        )


def _spark_type_compatible(src: T.DataType, dst: T.DataType) -> bool:
    """Destination type accepts source values: exact match, or a widening the
    merge cast handles losslessly (the reference accepts destination types
    the warehouse can cast to — validate.go destination column loop)."""
    if src == dst:
        return True
    numeric_rank = {
        "tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
        "float": 4, "double": 5,
    }
    s, d = src.simpleString(), dst.simpleString()
    if s in numeric_rank and d in numeric_rank:
        return numeric_rank[s] <= numeric_rank[d]
    if d == "string":
        return True  # everything serializes to text (reference string fallback)
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return dst.precision >= src.precision and dst.scale >= src.scale
    return False


def validate_mirror(
    spark: SparkSession,
    tables,  # list[cdc.CdcTableConfig]
    source_schemas: dict[str, T.StructType] | None = None,
    resync: bool = False,
) -> list[CheckResult]:
    """Run every engine-side mirror pre-flight check; returns ALL results
    (passed and failed) so the caller can render the full report like the
    reference's validate-mirror API response.

    `source_schemas`: authoritative source schema per dst_table (e.g. from
    the wire via PgOutputDecoder.value_schema, or a catalog); defaults to the
    config's value_schema (self-consistency checks still apply).
    """
    out: list[CheckResult] = []
    seen_dst: set[str] = set()
    for cfg in tables:
        name = cfg.dst_table
        fields = {f.name: f.dataType for f in cfg.value_schema.fields}

        # duplicate destination (reference rejects two mappings to one table)
        dup = name in seen_dst
        seen_dst.add(name)
        out.append(CheckResult(
            "unique_destination", name, not dup,
            "duplicate destination table" if dup else "ok"))

        # pk columns resolve against the value schema, and survive exclusion
        missing_pk = [c for c in cfg.pk_cols if c not in fields]
        out.append(CheckResult(
            "pk_in_schema", name, not missing_pk,
            f"pk columns missing from schema: {missing_pk}" if missing_pk else "ok"))
        excluded_pk = [c for c in cfg.pk_cols if c in (cfg.exclude or [])]
        out.append(CheckResult(
            "pk_not_excluded", name, not excluded_pk,
            f"pk columns excluded: {excluded_pk}" if excluded_pk else "ok"))

        # excluded columns must exist (validate.go:57-66 resolves the
        # selected-column list against the live schema)
        bad_excl = [c for c in (cfg.exclude or []) if c not in fields]
        out.append(CheckResult(
            "exclude_resolves", name, not bad_excl,
            f"excluded columns not in schema: {bad_excl}" if bad_excl else "ok"))

        # rename sources resolve; rename targets don't collide
        bad_ren = [c for c in (cfg.renames or {}) if c not in fields]
        out.append(CheckResult(
            "rename_resolves", name, not bad_ren,
            f"renamed columns not in schema: {bad_ren}" if bad_ren else "ok"))
        # renames apply as ONE atomic projection (cdc._changes_for), so the
        # only invalid configs are those whose RESULTING column names
        # collide — swaps (a↔b) and chains (a→b, b→c) are well-defined
        ren = cfg.renames or {}
        final_names = [ren.get(c, c) for c in fields]
        collisions = sorted({n for n in final_names if final_names.count(n) > 1})
        out.append(CheckResult(
            "rename_no_collision", name, not collisions,
            f"rename targets collide: {collisions}" if collisions else "ok"))

        # meta column names must not shadow data columns
        shadows = [c for c in (cfg.soft_delete_col, cfg.synced_at_col)
                   if c and c in fields]
        out.append(CheckResult(
            "meta_cols_free", name, not shadows,
            f"soft-delete/synced-at collide with data columns: {shadows}"
            if shadows else "ok"))

        # source schema agreement (CheckSourceTables: selectable + columns)
        if source_schemas and name in source_schemas:
            src_fields = {f.name: f.dataType for f in source_schemas[name].fields}
            missing_src = [c for c in fields if c not in src_fields]
            out.append(CheckResult(
                "source_has_columns", name, not missing_src,
                f"configured columns absent at source: {missing_src}"
                if missing_src else "ok"))

        # destination compatibility (ValidateMirrorDestination) — skipped on
        # resync exactly like the reference (tables recreated)
        if not resync:
            try:
                # the stored schema, not a sampled footer, which can predate
                # an add-column delta
                existing = ParquetTable(spark, cfg.path).read()
                dst_fields = {f.name: f.dataType for f in existing.schema.fields}
            except Exception:
                dst_fields = None  # fresh destination: nothing to validate
            if dst_fields is not None:
                probs = []
                for c, t in fields.items():
                    if c in (cfg.exclude or []):
                        continue
                    dst_name = (cfg.renames or {}).get(c, c)
                    want = cfg.type_overrides.get(dst_name) if cfg.type_overrides else None
                    want_t = T._parse_datatype_string(want) if want else t
                    if dst_name not in dst_fields:
                        probs.append(f"{dst_name} missing")
                    elif not _spark_type_compatible(want_t, dst_fields[dst_name]):
                        probs.append(
                            f"{dst_name}: {want_t.simpleString()} !~ "
                            f"{dst_fields[dst_name].simpleString()}")
                out.append(CheckResult(
                    "destination_compatible", name, not probs,
                    "; ".join(probs) if probs else "ok"))
    return out


def validate_mirror_df(spark: SparkSession, tables, **kw) -> DataFrame:
    """Check rows as a DataFrame (the reference's validate response shape)."""
    res = validate_mirror(spark, tables, **kw)
    return spark.createDataFrame(
        [(r.check, r.table, r.ok, r.detail) for r in res], CHECK_SCHEMA
    )


def raise_on_failure(results: list[CheckResult]) -> None:
    failures = [r for r in results if not r.ok]
    if failures:
        raise MirrorValidationError(failures)


def table_diff(
    src: DataFrame,
    dst: DataFrame,
    pk_cols: list[str],
    compare_cols: list[str] | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Consistency check between a source and a mirrored destination — the
    reference's wait-for-equal-tables e2e assertion (flow/e2e/test_utils.go)
    productized as an operator: rows hash into pk buckets and each side
    collapses to (bucket, n_rows, checksum); only MISMATCHED buckets come
    back. Output: (bucket, src_rows, dst_rows, src_checksum, dst_checksum).

    Scale: each side is one narrow hash aggregate with map-side combine —
    the tables never join row-to-row; the comparison relation is ≤
    n_buckets rows. A returned bucket localizes the diff to 1/n_buckets of
    the keyspace for a row-level drill-down (filter pk-hash to the bucket
    and anti-join just that slice).

    The checksum is an order-independent SUM of per-row md5-based hashes
    over pk + compare columns. Each column is canonicalized as
    '1'||value when present and '0' when NULL before the \\x1f-join, so a
    NULL is distinct from every string AND from a NULL in an adjacent
    column — (a=NULL, b='x') and (a='x', b=NULL) hash differently.
    """
    from peerdb_spark.functions.hashing import h64

    cols = compare_cols or sorted(set(src.columns) & set(dst.columns) - set(pk_cols))

    def canon(c: str) -> Column:
        # concat propagates NULL, so a NULL value collapses the whole
        # '1'||v term to NULL and coalesce tags it '0'
        return F.coalesce(F.concat(F.lit("1"), F.col(c).cast("string")), F.lit("0"))

    def summarize(df: DataFrame, side: str) -> DataFrame:
        row_hash = h64(F.concat_ws("\x1f", *[canon(c) for c in [*pk_cols, *cols]]))
        bucket = F.pmod(h64(F.concat_ws("\x1f", *[canon(c) for c in pk_cols])), F.lit(n_buckets))
        # a long sum of 60-bit hashes overflows under ANSI at ~2^3 rows per
        # bucket shy of the limit — sum in decimal(38,0), fold to 60 bits
        return (
            df.select(bucket.alias("bucket"), row_hash.cast("decimal(38,0)").alias("_h"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias(f"{side}_rows"),
                F.pmod(F.sum("_h"), F.lit(1 << 60).cast("decimal(38,0)"))
                .cast("long")
                .alias(f"{side}_checksum"),
            )
        )
    s = summarize(src, "src")
    d = summarize(dst, "dst")
    j = s.join(d, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("src_rows", F.lit(0)).alias("src_rows"),
        F.coalesce("dst_rows", F.lit(0)).alias("dst_rows"),
        F.coalesce("src_checksum", F.lit(0)).alias("src_checksum"),
        F.coalesce("dst_checksum", F.lit(0)).alias("dst_checksum"),
    )
    return j.where(
        (F.col("src_rows") != F.col("dst_rows"))
        | (F.col("src_checksum") != F.col("dst_checksum"))
    )
