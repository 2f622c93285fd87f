"""Column masking / truncation transforms.

Debezium's column transform property family — applied by the engine at
capture so sensitive values never reach the sink:

- ``column.truncate.to.LENGTH.chars``  → :func:`truncate_columns`
- ``column.mask.with.LENGTH.chars``    → :func:`mask_columns`
- ``column.mask.hash.ALGO.with.salt.SALT`` (v2 hash masking)
                                       → :func:`hash_mask_columns`

The reference reaches all three through its generic Debezium
properties passthrough (`AbstractDebeziumTask.java:119` declares the
map, `:361-368` renders and applies it over the derived connector
config) — any ``column.*`` property a Debezium connector understands
is reachable from a Kestra flow. Here they are first-class projection
operators: pure Catalyst column rewrites, zero shuffle, fused by
whole-stage codegen, and :func:`mask_envelope_images` applies the same
transforms inside typed ``before``/``after`` envelope structs (capture
semantics: BOTH images are masked, a delete's before image must not
leak the value either).

Null semantics match Debezium: NULL stays NULL (masking marks the
presence of a value, never invents one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def truncate_columns(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    """``column.truncate.to.LENGTH.chars``: keep the first ``length``
    characters of each named string column (shorter values unchanged,
    NULL passes through — substring semantics on both engines)."""
    for c, n in cols.items():
        df = df.withColumn(c, F.substring(F.col(c), 1, int(n)))
    return df


def mask_columns(
    df: DataFrame, cols: dict[str, int], mask_char: str = "*"
) -> DataFrame:
    """``column.mask.with.LENGTH.chars``: replace every non-NULL value
    with ``length`` copies of ``mask_char`` (the Debezium default is
    asterisks); NULL stays NULL."""
    for c, n in cols.items():
        df = df.withColumn(
            c,
            F.when(
                F.col(c).isNotNull(), F.lit(mask_char * int(n))
            ),
        )
    return df


def hash_mask_columns(
    df: DataFrame, cols: dict[str, str], num_bits: int = 256
) -> DataFrame:
    """``column.mask.hash.ALGO.with.salt.SALT`` (Debezium v2 hash
    masking): replace each non-NULL value with the lowercase-hex
    ``SHA-num_bits`` digest of salt||value — stable pseudonymization,
    so equal values still join/group equal across tables while the
    plaintext never leaves the capture layer. NULL stays NULL (sha2 of
    a null concat is null on both engines)."""
    for c, salt in cols.items():
        df = df.withColumn(
            c, F.sha2(F.concat(F.lit(salt), F.col(c)), num_bits)
        )
    return df


def applicable_transforms(
    types: dict[str, str],
    truncate: dict[str, int] | None = None,
    mask: dict[str, int] | None = None,
    hash_salt: dict[str, str] | None = None,
    key_cols: tuple[str, ...] = (),
    strict: bool = True,
) -> tuple[dict, dict, dict]:
    """The one rule set for capture-side column transforms, shared by
    decoded rows (:func:`ingest_transforms`) and per-row envelope
    delivery (streaming/realtime.stream_rows). ``types`` maps each
    column present to its ``simpleString`` type. Returns the three
    transform maps restricted to present columns.

    Key columns are refused loudly: masking a primary-key component
    breaks key identity/bucketing (Debezium's own masking on a pk would
    corrupt topic compaction the same way). A column absent from
    ``types`` raises when ``strict``; otherwise it is skipped — an
    epoch that predates an evolved column simply has nothing to
    transform yet, and Debezium too ignores transform properties for
    columns a table lacks. Debezium's column transforms apply to
    CHARACTER-BASED columns only; a sha/'***' over a numeric column
    would silently null out under the table-schema cast, so a present
    non-string column is refused."""
    named = set(truncate or {}) | set(mask or {}) | set(hash_salt or {})
    bad = named & set(key_cols)
    if bad:
        raise ValueError(
            f"column transforms must not touch key columns {sorted(bad)}: "
            "masking a key component breaks LWW identity and bucketing"
        )
    missing = named - set(types)
    if missing and strict:
        raise ValueError(
            f"column transforms name absent columns {sorted(missing)} "
            f"(payload columns: {sorted(types)})"
        )
    non_str = sorted(c for c in named - missing if types[c] != "string")
    if non_str:
        raise ValueError(
            f"column transforms apply to string columns only, got "
            f"{ {c: types[c] for c in non_str} } — Debezium's "
            "truncate/mask/mask.hash are character-column transforms"
        )

    def have(d):
        return {k: v for k, v in (d or {}).items() if k in types}

    return have(truncate), have(mask), have(hash_salt)


def ingest_transforms(
    df: DataFrame,
    truncate: dict[str, int] | None = None,
    mask: dict[str, int] | None = None,
    hash_salt: dict[str, str] | None = None,
    key_cols: tuple[str, ...] = (),
    content_col: str = "content",
    sha_col: str = "content_sha256",
    strict: bool = True,
) -> DataFrame:
    """Capture-level application on a DECODED row frame (the engine's
    post-decode, pre-merge hook — EngineConfig.column_truncate/
    column_mask/column_mask_hash): masked values never reach the lake,
    Debezium's connector-side semantics. If ``content_col`` is
    transformed, ``sha_col`` is recomputed over the TRANSFORMED value —
    the row identity follows what was ingested, and a plaintext must
    not leak through its own hash. Which columns may be transformed:
    :func:`applicable_transforms` (the engine passes strict=False)."""
    truncate, mask, hash_salt = applicable_transforms(
        {f.name: f.dataType.simpleString() for f in df.schema.fields},
        truncate,
        mask,
        hash_salt,
        key_cols,
        strict,
    )
    df = truncate_columns(df, truncate)
    df = mask_columns(df, mask)
    df = hash_mask_columns(df, hash_salt)
    if content_col in {*truncate, *mask, *hash_salt} and sha_col in df.columns:
        from plugin_debezium_spark.functions.hashing import content_sha256

        df = df.withColumn(
            sha_col, content_sha256(F.col(content_col))
        )
    return df


def mask_envelope_images(
    df: DataFrame,
    truncate: dict[str, int] | None = None,
    mask: dict[str, int] | None = None,
    hash_salt: dict[str, str] | None = None,
    images: tuple[str, ...] = ("before", "after"),
    mask_char: str = "*",
    num_bits: int = 256,
) -> DataFrame:
    """Apply the three transforms INSIDE typed envelope image structs
    (both images by default — capture-time semantics). A NULL image
    stays NULL (withField on a NULL struct yields NULL); a NULL field
    inside a present image follows each transform's null rule."""
    for img in images:
        col = F.col(img)
        for c, n in (truncate or {}).items():
            col = col.withField(c, F.substring(col.getField(c), 1, int(n)))
        for c, n in (mask or {}).items():
            col = col.withField(
                c,
                F.when(
                    col.getField(c).isNotNull(), F.lit(mask_char * int(n))
                ),
            )
        for c, salt in (hash_salt or {}).items():
            col = col.withField(
                c, F.sha2(F.concat(F.lit(salt), col.getField(c)), num_bits)
            )
        df = df.withColumn(img, col)
    return df
