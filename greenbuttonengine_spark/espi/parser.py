"""Pure-Python ESPI Atom-feed parser — the one Python stage in the engine.

Runs per-file inside ``mapInPandas`` (see source.py); everything after
it is native Catalyst.  Semantics mirror the reference parser:

* feed -> entry traversal: lib/personalgreenbutton/src/lib.rs:192-224
* entry fields + links: src/entry.rs:63-136
* content dispatch (IntervalBlock / ReadingType / LocalTimeParameters /
  Other; unknown tag = file error; mixed types = file error):
  src/content.rs:14-74
* text-of-node with empty->default provider tolerance:
  src/parse_helpers.rs:14-40
* per-field defaults (cost=NaN, quality=16, tou=0, phase=0):
  src/interval_reading.rs:15-22, src/reading_type.rs:19-20
* published/updated RFC-3339 quirk — the offset is parsed then DROPPED
  (naive local clock time re-interpreted as UTC): src/entry.rs:96-111
* hex-encoded DST rules: src/local_time_parameters.rs:152-159

Row dicts target schemas.PARSED_SCHEMA; a file that fails to parse
yields a single row_kind='error' row and nothing else, instead of
killing the job (cli-frontend/src/main.rs:31-38 logs and continues);
``parse_espi_feed`` is the only place that decision is made.
"""

from __future__ import annotations

import io
import math
import re
import xml.etree.ElementTree as ET
from datetime import datetime, timezone
from typing import Any

from .schemas import (
    KIND_ENTRY,
    KIND_ERROR,
    KIND_INTERVAL_READING,
    KIND_LOCAL_TIME_PARAMETERS,
    KIND_READING_TYPE,
)

_METER_READING_RE = re.compile(r"(.*MeterReading/[^/]*)/")

# payload tags the reference recognizes but does not materialize
_OTHER_PAYLOADS = {
    "ElectricPowerQualitySummary",
    "MeterReading",
    "UsagePoint",
    "UsageSummary",
}

ENTRY_TYPE_READING_TYPE = "reading_type"
ENTRY_TYPE_INTERVAL_BLOCK = "interval_block"
ENTRY_TYPE_LOCAL_TIME_PARAMETERS = "local_time_parameters"
ENTRY_TYPE_OTHER = "other"


class EspiParseError(ValueError):
    pass


def _local(tag: str) -> str:
    """Strip '{namespace}' prefix (parse_helpers.rs:6-12)."""
    return tag.rsplit("}", 1)[-1]


def _all_text(node: ET.Element) -> str:
    """Concatenate trimmed descendant text (parse_helpers.rs:14-25)."""
    return "".join(t.strip() for t in node.itertext())


def _parse_text(node: ET.Element, typ, default):
    """Text of node; empty string yields the type default
    (parse_helpers.rs:27-40 — Hydro One empty cost tags)."""
    text = _all_text(node)
    if text == "":
        return default
    return typ(text)


_RFC3339_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)


def _rfc3339_naive_utc_seconds(text: str) -> int:
    """Parse RFC-3339, drop the offset, re-interpret the clock time as
    UTC — the reference's naive_local().and_utc() quirk (entry.rs:96-111).

    Strict: chrono's parse_from_rfc3339 requires the 'T' separator and
    an explicit offset; fromisoformat alone would accept looser forms
    the reference rejects."""
    if not _RFC3339_RE.match(text):
        raise EspiParseError(f"Invalid RFC-3339 timestamp: {text!r}")
    dt = datetime.fromisoformat(text)
    return int(dt.replace(tzinfo=timezone.utc).timestamp())


_HEX_RE = re.compile(r"[0-9a-fA-F]{1,8}$")


def _parse_hex_u32(text: str, field: str) -> int:
    """Hex DST rule with the reference's u32 bounds
    (u32::from_str_radix, local_time_parameters.rs:152-159): no sign,
    no 0x prefix, must fit 32 bits."""
    if not _HEX_RE.match(text):
        raise EspiParseError(f"Invalid hex u32 for {field}: {text!r}")
    return int(text, 16)


def _parse_interval_reading(node: ET.Element, entry_index: int) -> dict[str, Any]:
    row: dict[str, Any] = {
        "row_kind": KIND_INTERVAL_READING,
        "entry_index": entry_index,
        "cost": float("nan"),
        "quality": 16,  # "other"
        "value": None,
        "tou": 0,
        "time_period_start_unix": None,
        "time_period_duration_seconds": None,
    }
    for child in node:
        tag = _local(child.tag)
        if tag == "cost":
            # ESPI cost is 1/100000 currency units (interval_reading.rs:36-38)
            row["cost"] = _parse_text(child, float, 0.0) / 100000.0
        elif tag == "ReadingQuality":
            row["quality"] = _parse_text(child, int, 0)
        elif tag == "value":
            row["value"] = _parse_text(child, int, 0)
        elif tag == "tou":
            row["tou"] = _parse_text(child, int, 0)
        elif tag == "timePeriod":
            start = duration = None
            for sub in child:
                subtag = _local(sub.tag)
                if subtag == "start":
                    start = _parse_text(sub, int, 0)
                elif subtag == "duration":
                    duration = _parse_text(sub, int, 0)
            if start is None:
                raise EspiParseError("Missing start time.")
            if duration is None:
                raise EspiParseError("Missing duration")
            row["time_period_start_unix"] = start
            row["time_period_duration_seconds"] = duration
        else:
            # reference rejects unknown IntervalReading children
            # (interval_reading.rs:43-47)
            raise EspiParseError(f"Unmatched tag name: {tag!r}")
    if row["value"] is None:
        raise EspiParseError("Missing required field value in IntervalReading")
    if row["time_period_start_unix"] is None:
        raise EspiParseError("Missing timePeriod in IntervalReading")
    return row


_READING_TYPE_FIELDS = {
    "accumulationBehaviour": "accumulation_behaviour",
    "commodity": "commodity",
    "currency": "currency",
    "dataQualifier": "data_qualifier",
    "flowDirection": "flow_direction",
    "kind": "kind",
    "powerOfTenMultiplier": "power_of_ten_multiplier",
    "phase": "phase",
    "uom": "uom",
}


def _parse_reading_type(node: ET.Element, entry_index: int) -> dict[str, Any]:
    row: dict[str, Any] = {
        "row_kind": KIND_READING_TYPE,
        "entry_index": entry_index,
        "phase": 0,  # "none" when missing (reading_type.rs:19-20)
    }
    for child in node:
        tag = _local(child.tag)
        col = _READING_TYPE_FIELDS.get(tag)
        if col is not None:
            row[col] = _parse_text(child, int, 0)
    for col in _READING_TYPE_FIELDS.values():
        if col not in row:
            raise EspiParseError(f"Missing required ReadingType field {col}")
    return row


def _parse_local_time_parameters(node: ET.Element, entry_index: int) -> dict[str, Any]:
    # entry_index links the LTP back to its carrying entry (-> href ->
    # usage-point scope), which the non-strict multi-LTP mode resolves
    # per usage point; the reference itself never needs it (it aborts
    # on multiple LTPs, lib.rs:42-50)
    row: dict[str, Any] = {
        "row_kind": KIND_LOCAL_TIME_PARAMETERS,
        "entry_index": entry_index,
    }
    for child in node:
        tag = _local(child.tag)
        if tag == "dstStartRule":
            row["dst_start_rule"] = _parse_hex_u32(_all_text(child), "dstStartRule")
        elif tag == "dstEndRule":
            row["dst_end_rule"] = _parse_hex_u32(_all_text(child), "dstEndRule")
        elif tag == "dstOffset":
            row["dst_offset"] = _parse_text(child, int, 0)
        elif tag == "tzOffset":
            row["tz_offset"] = _parse_text(child, int, 0)
        elif _local(child.tag):
            raise EspiParseError(f"Unmatched tag name: {_local(child.tag)!r}")
    for col in ("dst_start_rule", "dst_end_rule", "dst_offset", "tz_offset"):
        if col not in row:
            raise EspiParseError(f"Missing required LocalTimeParameters field {col}")
    return row


def _parse_entry(node: ET.Element, entry_index: int) -> list[dict[str, Any]]:
    rows: list[dict[str, Any]] = []
    entry: dict[str, Any] = {
        "row_kind": KIND_ENTRY,
        "entry_index": entry_index,
        "related_meter_reading_entry_href": "",
        "related_reading_type_entry_href": "",
    }
    content_node: ET.Element | None = None
    for child in node:
        tag = _local(child.tag)
        if tag == "title":
            if child.text is None:
                raise EspiParseError("Empty title.")
            entry["title"] = child.text
        elif tag == "published":
            if child.text is None:
                raise EspiParseError("Missing published text")
            entry["published_unix"] = _rfc3339_naive_utc_seconds(child.text)
        elif tag == "updated":
            if child.text is None:
                raise EspiParseError("Missing updated text")
            entry["updated_unix"] = _rfc3339_naive_utc_seconds(child.text)
        elif tag == "content":
            content_node = child
        elif tag == "link":
            href = child.get("href")
            if href is not None:
                if child.get("rel") == "related" and child.get("type") == "espi-entry/ReadingType":
                    entry["related_reading_type_entry_href"] = href
                if child.get("rel") == "self":
                    entry["href"] = href
                    m = _METER_READING_RE.match(href)
                    if m:
                        entry["related_meter_reading_entry_href"] = m.group(1)

    if content_node is None:
        raise EspiParseError("Missing content node")

    # content dispatch with mixed-type enforcement (content.rs:26-54)
    entry_type: str | None = None

    def set_type(new: str) -> None:
        nonlocal entry_type
        if entry_type is None or entry_type == new:
            entry_type = new
        else:
            raise EspiParseError("Entry has mixed content types.")

    interval_blocks: list[ET.Element] = []
    reading_type_node: ET.Element | None = None
    ltp_node: ET.Element | None = None
    for child in content_node:
        tag = _local(child.tag)
        if tag == "IntervalBlock":
            set_type(ENTRY_TYPE_INTERVAL_BLOCK)
            interval_blocks.append(child)
        elif tag == "ReadingType":
            set_type(ENTRY_TYPE_READING_TYPE)
            reading_type_node = child
        elif tag == "LocalTimeParameters":
            set_type(ENTRY_TYPE_LOCAL_TIME_PARAMETERS)
            ltp_node = child
        elif tag in _OTHER_PAYLOADS:
            set_type(ENTRY_TYPE_OTHER)
        else:
            raise EspiParseError(f"Unknown tag name {tag!r}")

    entry["entry_type"] = entry_type or ENTRY_TYPE_OTHER
    for required in ("href", "title", "published_unix", "updated_unix"):
        if required not in entry:
            raise EspiParseError(f"Missing required entry field {required}")
    rows.append(entry)

    for ib in interval_blocks:
        for child in ib:
            if _local(child.tag) == "IntervalReading":
                rows.append(_parse_interval_reading(child, entry_index))
    if reading_type_node is not None:
        rows.append(_parse_reading_type(reading_type_node, entry_index))
    if ltp_node is not None:
        rows.append(_parse_local_time_parameters(ltp_node, entry_index))
    return rows


def parse_espi_feed(xml_text: str, source_file: str) -> list[dict[str, Any]]:
    """Parse one ESPI Atom feed into PARSED_SCHEMA row dicts.

    The one owner of fail-the-file (lib.rs:32-50, S2 per-file
    tolerance): a file that fails anywhere — even after valid entries —
    yields a SINGLE ``row_kind='error'`` row and nothing else, so no
    downstream table ever sees a failed file's partial rows.  Every
    reader (batch, streaming bronze, the CLI fast path) parses through
    here.

    ``ET.iterparse`` clears each finished ``<entry>`` from the root, so
    the DOM holds one entry subtree at a time, not the whole feed.
    """
    rows: list[dict[str, Any]] = []
    try:
        depth = -1
        entry_index = 0
        root: ET.Element | None = None
        for event, elem in ET.iterparse(io.StringIO(xml_text), events=("start", "end")):
            if event == "start":
                depth += 1
                if depth == 0:
                    root = elem
                    if _local(elem.tag) != "feed":
                        raise EspiParseError("Missing feed")
                continue
            depth -= 1
            if depth == 0 and _local(elem.tag) == "entry":
                for row in _parse_entry(elem, entry_index):
                    row["source_file"] = source_file
                    rows.append(row)
                entry_index += 1
                # drop the finished entry subtree from the root
                root.clear()
        if not rows:
            # an empty feed would otherwise vanish from every downstream
            # table; the reference errors it at denormalize (lib.rs:46-50)
            raise EspiParseError("Missing LocalTimeParameters.")
    except Exception as ex:  # noqa: BLE001 - error channel, not crash
        return [
            {
                "row_kind": KIND_ERROR,
                "source_file": source_file,
                "error": f"{type(ex).__name__}: {ex}",
            }
        ]
    return rows
