"""Identity-key construction and keyed PII obfuscation (SURVEY §2.8 F1/F2/F12).

The reference obfuscates patron ids and an address-identity key with a
deterministic keyed bcrypt (``obfuscate`` from its utils package, applied at
lib/pipeline_controller.py:195-197,289-291,362-364; salt from env,
README.md:57).  Two engine modes:

- ``sha2`` (default): ``sha2(salt || value, 256)`` — a JVM-side built-in that
  stays inside whole-stage codegen.  This is the 100 TB design point
  (SURVEY §7 risk 2): bcrypt's work factor is intentionally slow, and a
  keyed-hash contract (deterministic string→string, salt-secret) is satisfied
  by SHA-256 with a secret salt at a ~10⁵× higher throughput.
- ``bcrypt``: exact reference-compatible hashes via an Arrow-batched pandas
  UDF.  Uses the C ``bcrypt`` wheel when importable; otherwise falls back to
  the vendored pure-Python implementation (engine/ops/bcrypt_pure.py,
  validated against the public OpenWall test vectors) so the contract is
  honored everywhere.  CPU-bound by design — repartition before applying so
  executor cores replace the reference's ThreadPoolExecutor; the pure-Python
  path is for parity testing and small keyed batches, never the 100 TB path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

try:  # optional — not in the harness image
    import bcrypt as _bcrypt  # type: ignore

    HAS_BCRYPT = True
except ImportError:  # pragma: no cover
    _bcrypt = None
    HAS_BCRYPT = False

__all__ = [
    "address_key",
    "obfuscate_col",
    "normalize_id",
    "HAS_BCRYPT",
]


def address_key(id_col: str, addr_cols: list[str], *, sep: str = "_") -> Column:
    """F1: null-safe ``id_addr_city_region_postal`` identity key.

    The reference ``fillna('')`` before concatenating
    (lib/pipeline_controller.py:189-194).  ``concat_ws`` alone *skips* null
    slots (shifting separators), so every column — INCLUDING the id, which a
    left-join miss or dirty feed can null out (the 10× skew gate's 5%
    null-key orders caught the uncoalesced id slot) — is coalesced to ''
    explicitly: the silent-corruption spot called out in SURVEY §7 risk 7.
    """
    parts = [F.coalesce(F.col(id_col).cast("string"), F.lit(""))] + [
        F.coalesce(F.col(c), F.lit("")) for c in addr_cols
    ]
    return F.concat_ws(sep, *parts)


def obfuscate_col(col: Column | str, salt: str, *, mode: str = "sha2") -> Column:
    """F2: deterministic keyed hash of a string column.

    ``mode='sha2'`` → ``sha2(concat(salt, value), 256)``, nulls propagate.
    ``mode='bcrypt'`` → reference-identical ``bcrypt.hashpw(value, salt)``
    via pandas UDF: the C wheel when present, else the vendored pure-Python
    bcrypt (same hashes — see engine/ops/bcrypt_pure.py).  Needs a full
    ``$2b$NN$...`` salt string.
    """
    c = F.col(col) if isinstance(col, str) else col
    if mode == "sha2":
        return F.when(c.isNull(), F.lit(None)).otherwise(
            F.sha2(F.concat(F.lit(salt), c), 256)
        )
    if mode == "bcrypt":
        if HAS_BCRYPT:  # pragma: no cover - wheel absent in harness image
            salt_b = salt.encode("utf-8")

            def _hash(v: str) -> str:
                return _bcrypt.hashpw(v.encode("utf-8"), salt_b).decode("utf-8")
        else:
            from engine.ops.bcrypt_pure import hashpw

            def _hash(v: str) -> str:
                return hashpw(v.encode("utf-8"), salt)

        @pandas_udf(StringType())
        def _bcrypt_udf(s: pd.Series) -> pd.Series:
            return s.map(lambda v: None if v is None else _hash(v))

        return _bcrypt_udf(c)
    raise ValueError(f"unknown obfuscation mode: {mode}")


def normalize_id(col: Column | str) -> Column:
    """F12: numeric id → canonical string (strips ``.0``, keeps nulls) —
    reference ``astype('Int64').astype('string')``
    (lib/pipeline_controller.py:147-148)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("long").cast("string")
