"""Per-record transforms (the reference's Converter chain) as DataFrame ops.

Reference semantics (apache/incubator-gobblin): a Converter is a flatMap —
``convertRecord -> Iterable<DO>`` where 1:0 = filter, 1:1 = map, 1:N =
explode (gobblin-api .../converter/Converter.java:61,111; chaining via
gobblin-runtime .../MultiConverter.java:50). Here every converter is a
function ``DataFrame -> DataFrame`` so a chain is just
``df.transform(c1).transform(c2)`` and Catalyst collapses the whole chain
into one optimized plan (column pruning + predicate pushdown reach the
scan, which the reference could only do by hand-building source SQL).

Each function cites the reference operator it mirrors.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Transform = Callable[[DataFrame], DataFrame]


# ---------------------------------------------------------------------------
# Projections / field picking
# ---------------------------------------------------------------------------

def project(fields: Sequence[str], remove: bool = False) -> Transform:
    """Keep or remove top-level fields.

    Mirrors AvroProjectionConverter (gobblin-core-base
    .../converter/filter/AvroProjectionConverter.java:42).
    """

    def _t(df: DataFrame) -> DataFrame:
        if remove:
            return df.drop(*fields)
        return df.select(*fields)

    return _t


def pick_fields(paths: Sequence[str]) -> Transform:
    """Select nested fields by dotted path, preserving the nesting of the
    final segment as the column name.

    Mirrors AvroFieldsPickConverter (gobblin-core
    .../converter/filter/AvroFieldsPickConverter.java:49, trie at :212).
    Catalyst's nested-schema pruning pushes this into the scan.
    """

    def _t(df: DataFrame) -> DataFrame:
        cols = [F.col(p).alias(p.replace(".", "_")) for p in paths]
        return df.select(*cols)

    return _t


def retrieve_field(path: str, alias: str | None = None) -> Transform:
    """Project a single (possibly nested) field to the top level.

    Mirrors AvroFieldRetrieverConverter (gobblin-core
    .../converter/avro/AvroFieldRetrieverConverter.java:43).
    """

    def _t(df: DataFrame) -> DataFrame:
        return df.select(F.col(path).alias(alias or path.split(".")[-1]))

    return _t


def flatten_nested(paths: Sequence[str]) -> Transform:
    """Copy nested keys to top-level columns named ``a_b_c``.

    Mirrors FlattenNestedKeyConverter (gobblin-core
    .../converter/avro/FlattenNestedKeyConverter.java:57).
    """

    def _t(df: DataFrame) -> DataFrame:
        out = df
        for p in paths:
            out = out.withColumn(p.replace(".", "_"), F.col(p))
        return out

    return _t


def flatten_all(df: DataFrame, sep: str = "_") -> DataFrame:
    """Recursively flatten every struct column (the AvroFlattener analogue,
    gobblin-utility .../util/AvroFlattener.java:123) — used before writing
    to flat-only sinks (JDBC, ORC-for-Hive)."""
    from pyspark.sql.types import StructType

    def _expand(prefix: str, schema: StructType) -> list[Column]:
        cols: list[Column] = []
        for field in schema.fields:
            full = f"{prefix}.{field.name}" if prefix else field.name
            name = full.replace(".", sep)
            if isinstance(field.dataType, StructType):
                cols.extend(_expand(full, field.dataType))
            else:
                cols.append(F.col(full).alias(name))
        return cols

    return df.select(*_expand("", df.schema))


# ---------------------------------------------------------------------------
# Filters (1:0 converters + row-level predicates)
# ---------------------------------------------------------------------------

def filter_equals(field: str, value) -> Transform:
    """Equality filter. Mirrors AvroFilterConverter (gobblin-core
    .../converter/filter/AvroFilterConverter.java:42)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.filter(F.col(field) == F.lit(value))

    return _t


def filter_regex(field: str, pattern: str, keep_matching: bool = True) -> Transform:
    """Regex row filter. Mirrors StringFilterConverter (gobblin-core
    .../converter/string/StringFilterConverter.java:40)."""

    def _t(df: DataFrame) -> DataFrame:
        m = F.col(field).rlike(pattern)
        return df.filter(m if keep_matching else ~m)

    return _t


def filter_expr(predicate: Column | str) -> Transform:
    """Arbitrary predicate filter (the general RowLevelPolicy-as-predicate
    form, gobblin-api .../qualitychecker/row/RowLevelPolicy.java:68)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.filter(predicate)

    return _t


# ---------------------------------------------------------------------------
# Explodes (1:N converters)
# ---------------------------------------------------------------------------

def split_to_rows(field: str, delimiter: str, out: str | None = None) -> Transform:
    """Split a string column and emit one row per token.

    Mirrors StringSplitterConverter (gobblin-core
    .../converter/string/StringSplitterConverter.java:34). Implemented as
    ``explode(split(...))`` — a generator expression inside codegen, no
    Python involvement.
    """

    def _t(df: DataFrame) -> DataFrame:
        # Escape the delimiter: Spark split() takes a regex.
        import re

        return df.withColumn(
            out or field, F.explode(F.split(F.col(field), re.escape(delimiter)))
        )

    return _t


def split_to_list(field: str, delimiter: str, out: str | None = None) -> Transform:
    """Split a string column into an array column. Mirrors
    StringSplitterToListConverter (gobblin-core
    .../converter/string/StringSplitterToListConverter.java:38)."""

    def _t(df: DataFrame) -> DataFrame:
        import re

        return df.withColumn(out or field, F.split(F.col(field), re.escape(delimiter)))

    return _t


# ---------------------------------------------------------------------------
# Sampling
# ---------------------------------------------------------------------------

def sample(ratio: float, seed: int | None = None) -> Transform:
    """Bernoulli sample. Mirrors SamplingConverter (gobblin-core-base
    .../converter/SamplingConverter.java:36, ratio at :68-71)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.sample(withReplacement=False, fraction=ratio, seed=seed)

    return _t


def sample_mod(key: str, modulus: int, keep: int = 0) -> Transform:
    """Deterministic systematic sample: keep rows where key % modulus == keep.

    A reproducible variant of SamplingConverter for oracle-checked
    pipelines (same rows on every engine / every run).
    """

    def _t(df: DataFrame) -> DataFrame:
        return df.filter(F.col(key) % F.lit(modulus) == F.lit(keep))

    return _t


# ---------------------------------------------------------------------------
# Format / serde converters
# ---------------------------------------------------------------------------

def parse_json(field: str, schema, out: str = "parsed") -> Transform:
    """Parse a JSON-string column into a struct.

    Mirrors JsonStringToJsonIntermediateConverter (gobblin-core
    .../converter/json/JsonStringToJsonIntermediateConverter.java:48) and
    JsonRecordAvroSchemaToAvroConverter — the declared schema maps through
    the §1.3 type lattice to a StructType.
    """

    def _t(df: DataFrame) -> DataFrame:
        return df.withColumn(out, F.from_json(F.col(field), schema))

    return _t


def json_get(field: str, path: str, out: str) -> Transform:
    """Extract one JSON path as a string column (lightweight converter for
    envelope payload peeking, EnvelopeSchemaConverter-adjacent)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.withColumn(out, F.get_json_object(F.col(field), path))

    return _t


def to_json_string(fields: Sequence[str] | None, out: str = "json") -> Transform:
    """Serialize columns (default: all) to a JSON-string column.

    Mirrors AvroToJsonConverter (gobblin-modules/gobblin-avro-json
    .../AvroToJsonConverter.java:46).
    """

    def _t(df: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in (fields or df.columns)]
        return df.withColumn(out, F.to_json(F.struct(*cols)))

    return _t


def to_rest_entry(
    resource_template: str,
    json_fields: Sequence[str] | None = None,
    resource_out: str = "resource",
    json_out: str = "json",
) -> Transform:
    """Record -> REST entry: a resource path rendered from a
    ``{column}`` template plus the JSON body.

    Mirrors AvroToRestJsonEntryConverter (gobblin-core
    .../converter/http/AvroToRestJsonEntryConverter.java:43) — the
    reference resolves a resource-key template against record fields
    and pairs it with the record JSON. Template rendering is
    ``format_string`` (JVM-side); e.g. ``"users/{id}/posts/{post_id}"``.
    """
    import re as _re

    parts = _re.split(r"\{([A-Za-z0-9_.]+)\}", resource_template)
    # even indices = literal text (escape %), odd = column placeholders
    fmt = "".join(
        p.replace("%", "%%") if i % 2 == 0 else "%s" for i, p in enumerate(parts)
    )
    cols = [parts[i] for i in range(1, len(parts), 2)]

    def _t(df: DataFrame) -> DataFrame:
        body = [F.col(c) for c in (json_fields or df.columns)]
        return df.withColumn(
            resource_out, F.format_string(fmt, *[F.col(c) for c in cols])
        ).withColumn(json_out, F.to_json(F.struct(*body)))

    return _t


def to_couchbase_entry(
    key_cols: Sequence[str] | str,
    content_fields: Sequence[str] | None = None,
    key_separator: str = "::",
    key_out: str = "key",
    content_out: str = "content",
) -> Transform:
    """Record -> keyed JSON document: the document id rendered from one
    or more key columns plus the serialized record body — the shape a
    key/value bulk API (Couchbase, any doc store) ingests, fed straight
    into ``sinks.egress.write_egress`` (the endpoint then upserts by
    key, which is what turns the writer's at-least-once into effective
    exactly-once).

    Mirrors AnyToCouchbaseJsonConverter / AvroToCouchbaseTupleConverter
    (gobblin-modules/gobblin-couchbase .../converter/
    AnyToCouchbaseJsonConverter.java:35, the key-field + JSON-content
    tuple contract). Key rendering is ``concat_ws`` (JVM-side);
    multi-column keys join on ``key_separator``."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def _t(df: DataFrame) -> DataFrame:
        body = [F.col(c) for c in (content_fields or df.columns)]
        return df.select(
            F.concat_ws(
                key_separator, *[F.col(k).cast("string") for k in keys]
            ).alias(key_out),
            F.to_json(F.struct(*body)).alias(content_out),
        )

    return _t


def cast_columns(casts: dict[str, str]) -> Transform:
    """Cast columns by name -> Spark type string. Covers the family of
    trivial cast converters (ObjectToStringConverter,
    StringToBytesConverter, TextToStringConverter — gobblin-core
    .../converter/string/*.java)."""

    def _t(df: DataFrame) -> DataFrame:
        out = df
        for col, dtype in casts.items():
            out = out.withColumn(col, F.col(col).cast(dtype))
        return out

    return _t


def regex_extract_struct(field: str, extracts: dict[str, tuple[str, int]]) -> Transform:
    """Parse semi-structured text into typed columns via regex groups:
    ``{out_col: (pattern, group_idx)}``.

    Mirrors GrokToJsonConverter (gobblin-modules/gobblin-grok
    .../converter/grok/GrokToJsonConverter.java:86) — grok patterns are
    regexes under the hood; here each target column declares one.
    """

    def _t(df: DataFrame) -> DataFrame:
        out = df
        for col, (pattern, idx) in extracts.items():
            out = out.withColumn(col, F.regexp_extract(F.col(field), pattern, idx))
        return out

    return _t


def encrypt_field(
    field: str, key: str, out: str | None = None, mode: str = "GCM"
) -> Transform:
    """Field-level AES encryption -> base64 string. Mirrors
    StringFieldEncryptorConverter (gobblin-modules/gobblin-crypto-provider
    .../StringFieldEncryptorConverter.java:41): the record flows on with
    one column ciphered, everything else untouched.

    JVM-side ``aes_encrypt`` — no Python in the row path. GCM (default)
    is randomized per row; use mode="ECB" only where deterministic
    ciphertext is required (joinable pseudonyms), accepting the pattern
    leakage that implies. Key must be 16/24/32 bytes.
    """

    def _t(df: DataFrame) -> DataFrame:
        return df.withColumn(
            out or field,
            F.base64(
                F.aes_encrypt(
                    F.col(field).cast("string"), F.lit(key), F.lit(mode)
                )
            ),
        )

    return _t


def decrypt_field(
    field: str, key: str, out: str | None = None, mode: str = "GCM"
) -> Transform:
    """Inverse of :func:`encrypt_field` (the decryptor converter in
    gobblin-modules/gobblin-crypto)."""

    def _t(df: DataFrame) -> DataFrame:
        return df.withColumn(
            out or field,
            F.aes_decrypt(F.unbase64(F.col(field)), F.lit(key), F.lit(mode)).cast(
                "string"
            ),
        )

    return _t


def identity() -> Transform:
    """Pass-through. Mirrors IdentityConverter (gobblin-core-base
    .../converter/IdentityConverter.java)."""
    return lambda df: df


def chain(*transforms: Transform) -> Transform:
    """Compose converters left-to-right (the MultiConverter analogue,
    gobblin-runtime .../runtime/MultiConverter.java:50)."""

    def _t(df: DataFrame) -> DataFrame:
        for t in transforms:
            df = t(df)
        return df

    return _t
