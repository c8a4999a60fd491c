"""ESPI enum dictionary (P10, S7) — the one owner of code -> app_info.

The reference compiles the XSD enum values into a static phf map and
decodes per row (gb_type_details.rs:8-31).  Here the dictionary is
DATA, built by tools/build_enum_dim.py from the public NAESB espi.xsd:
a 454-row parquet dim for Spark readers, and the same rows as JSON,
which :func:`enum_maps` loads with stdlib ``json`` for both decoders —
the Spark literal-map decode (:func:`decode_enum_expr`) and the CLI
fast path (fastpath.py).  Codes stay ints through every shuffle;
strings appear only in the final projection — the same "intern until
the end" property the reference gets from &'static str.

Importable without pyspark: the fast path must never load it.
"""

from __future__ import annotations

import json
from functools import cache
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

_DATA = Path(__file__).resolve().parent / "data"
ENUM_DIM_PATH = str(_DATA / "espi_enum_dim.parquet")
ENUM_DIM_SCHEMA = (
    "type string, field string, value int, app_info string, documentation string"
)

MISSING_APP_INFO = "Missing app info"

# (TimeSeries column, ReadingType XSD field) for every decoded
# reading-type code; quality decodes separately under scope ''
ENUM_FIELDS = [
    ("accumulation_behaviour", "accumulationBehaviour"),
    ("commodity", "commodity"),
    ("currency", "currency"),
    ("data_qualifier", "dataQualifier"),
    ("flow_direction", "flowDirection"),
    ("kind", "kind"),
    ("phase", "phase"),
    ("uom", "uom"),
]


def load_enum_dim(spark: SparkSession, path: str | None = None) -> DataFrame:
    # the fixed schema spares the schema-inference job on every call
    return spark.read.schema(ENUM_DIM_SCHEMA).parquet(path or ENUM_DIM_PATH)


@cache
def enum_maps() -> dict[tuple[str, str], dict[int, str]]:
    """The dictionary as plain Python maps, loaded once per process
    (no Spark job, no pyarrow).  Keyed by (type, field)."""
    with open(_DATA / "espi_enum_dim.json") as fh:
        rows = json.load(fh)
    maps: dict[tuple[str, str], dict[int, str]] = {}
    for typ, field, value, app_info in rows:
        maps.setdefault((typ, field), {})[value] = app_info
    return maps


_DECODE_SQL_CACHE: dict[tuple[str, str, str], str] = {}


def _decode_sql(code_col: str, field: str, scope: str) -> str:
    """The literal-map decode as ONE SQL string, cached per process.

    Building the map from ~100 ``F.lit`` Column objects costs ~2 py4j
    round trips per literal (~0.5s per pipeline construction across the
    9 decode columns); a single parsed expression string is one round
    trip total, and the string survives session restarts (Columns are
    tied to a JVM gateway, strings are not)."""
    key = (code_col, field, scope)
    if key not in _DECODE_SQL_CACHE:
        mapping = enum_maps()[(scope, field)]

        def q(s: str) -> str:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

        entries = ", ".join(
            f"{code}, {q(mapping[code])}" for code in sorted(mapping)
        )
        _DECODE_SQL_CACHE[key] = (
            f"coalesce(map({entries})[`{code_col}`], {q(MISSING_APP_INFO)})"
        )
    return _DECODE_SQL_CACHE[key]


def decode_enum_expr(code_col: str, field: str, scope: str = "ReadingType") -> Column:
    """Enum decode as a literal MAP lookup — the Spark analog of the
    reference's compile-time phf map (gb_type_details.rs:8-31).

    Strictly cheaper than the broadcast-join form at any scale: no
    exchange, no extra stage, evaluates inside whole-stage codegen.
    Unknown / NULL codes -> 'Missing app info' (gb_type_details.rs:24-29).
    """
    from pyspark.sql import functions as F

    return F.expr(_decode_sql(code_col, field, scope))
