"""Seeded Green Button (ESPI) corpus generator for the benchmark.

Writes ESPI Atom feeds plus ``manifest.json``, which records for every
file the readings expected per TimeSeries title, or the error the
pipeline must route the file to.  The same seed gives identical bytes.

Provider quirks covered (each one a code path of the pipeline):

* enova: the first entry's href contains ``enova``, so every cost is
  multiplied by 100;
* hydro: empty ``<cost>`` tags (cost 0.0) and several IntervalBlocks in
  one content element;
* pge / sask: missing ``<cost>`` tags (the NaN sentinel);
* real US DST rules (``360E2000`` / ``B40E2000``) and the no-DST
  sentinel ``FFFFFFFF``.

Malformed files: bad UTF-8, missing LTP, two LTPs in one scope and an
unresolved reading type.

    python3 perfbench/corpus.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import random
import time
from pathlib import Path

YEAR_START = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400

# provider -> (host, tzOffset, dstStartRule, dstEndRule, cost style)
PROVIDERS = {
    "enova": ("api.enova.example", -18000, "360E2000", "B40E2000", "present"),
    "hydro": ("hydroone.example", -18000, "360E2000", "B40E2000", "empty"),
    "pge": ("pge.example", -28800, "360E2000", "B40E2000", "missing"),
    "sask": ("saskpower.example", -21600, "FFFFFFFF", "FFFFFFFF", "missing"),
}

# malformed kind -> lower-cased substring of the error the pipeline must report
MALFORMED = {
    "bad_utf8": "unicodedecodeerror",
    "missing_ltp": "missing localtimeparameters.",
    "two_ltp": "multiple localtimeparameters",
    "missing_rt": "missing reading type",
}

RT_FIELDS = (
    {  # electricity, kWh-ish
        "accumulationBehaviour": 4, "commodity": 1, "currency": 840,
        "dataQualifier": 12, "flowDirection": 1, "kind": 12,
        "powerOfTenMultiplier": 0, "uom": 72,
    },
    {  # gas, milli-units
        "accumulationBehaviour": 4, "commodity": 7, "currency": 124,
        "dataQualifier": 12, "flowDirection": 1, "kind": 58,
        "powerOfTenMultiplier": -3, "uom": 42,
    },
)


@dataclasses.dataclass(frozen=True)
class Spec:
    files: int
    days: int  # one daily reading per day per series
    malformed: tuple[str, ...]  # MALFORMED kinds, one file each


# many small exports: one year of daily readings each, plus a few
# malformed files: one of each kind.  No observed rate of malformed
# exports is available, so the error channel gets one file per kind
# (4 of 512, 0.8 %), and most conversions see no error at all.
SPEC = Spec(files=512, days=365, malformed=tuple(MALFORMED))
# the benchmark's own tests and ``run.py --size tiny``
TINY = Spec(files=32, days=20, malformed=tuple(MALFORMED))

_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<feed xmlns="http://www.w3.org/2005/Atom" xmlns:espi="http://naesb.org/espi">\n'
    "  <id>urn:uuid:feed</id>\n  <title>Green Button export</title>\n"
    "  <updated>2024-12-31T00:00:00Z</updated>\n"
)
_TS = "2024-12-31T00:00:00Z"


def _entry(title: str, href: str, typ: str, content: str, related: str = "") -> str:
    link = f'<link rel="related" href="{related}" type="espi-entry/ReadingType"/>' if related else ""
    return (
        f"  <entry><content>{content}</content><id>urn:uuid:{href[-24:]}</id>"
        f"<title>{title}</title><published>{_TS}</published><updated>{_TS}</updated>"
        f'<link rel="self" href="{href}" type="espi-entry/{typ}"/>{link}</entry>\n'
    )


def _ltp(tz: int, start_rule: str, end_rule: str) -> str:
    return (
        "<espi:LocalTimeParameters>"
        f"<espi:dstEndRule>{end_rule}</espi:dstEndRule><espi:dstOffset>3600</espi:dstOffset>"
        f"<espi:dstStartRule>{start_rule}</espi:dstStartRule><espi:tzOffset>{tz}</espi:tzOffset>"
        "</espi:LocalTimeParameters>"
    )


def _reading_type(fields: dict[str, int]) -> str:
    return "<espi:ReadingType>" + "".join(
        f"<espi:{k}>{v}</espi:{k}>" for k, v in sorted(fields.items())
    ) + "</espi:ReadingType>"


def _readings(rng: random.Random, starts: range, step: int, cost_style: str) -> str:
    out = []
    base = rng.randint(200, 5000)
    for start in starts:
        value = base + rng.randint(-150, 150)
        if cost_style == "present":
            cost = f"<espi:cost>{value * 11}</espi:cost>"
        elif cost_style == "empty":
            cost = "<espi:cost></espi:cost>" if rng.random() < 0.5 else f"<espi:cost>{value * 9}</espi:cost>"
        else:
            cost = ""
        extra = "<espi:ReadingQuality>19</espi:ReadingQuality>" if rng.random() < 0.05 else ""
        tou = f"<espi:tou>{rng.randint(1, 3)}</espi:tou>" if rng.random() < 0.1 else ""
        out.append(
            f"<espi:IntervalReading>{cost}{extra}<espi:timePeriod><espi:duration>{step}"
            f"</espi:duration><espi:start>{start}</espi:start></espi:timePeriod>{tou}"
            f"<espi:value>{value}</espi:value></espi:IntervalReading>"
        )
    return "".join(out)


def _interval_blocks(rng: random.Random, starts: range, step: int, cost_style: str, n_blocks: int) -> str:
    """One content element; hydro exports split it into several blocks."""
    chunk = -(-len(starts) // n_blocks)
    blocks = []
    for i in range(0, len(starts), chunk):
        part = starts[i:i + chunk]
        blocks.append(
            "<espi:IntervalBlock><espi:interval>"
            f"<espi:duration>{len(part) * step}</espi:duration><espi:start>{part[0]}</espi:start>"
            "</espi:interval>" + _readings(rng, part, step, cost_style) + "</espi:IntervalBlock>"
        )
    return "".join(blocks)


def make_feed(rng: random.Random, idx: int, spec: Spec, provider: str, malformed: str | None) -> tuple[bytes, dict]:
    """One export -> (file bytes, manifest record)."""
    host, tz, start_rule, end_rule, cost_style = PROVIDERS[provider]
    base = f"https://{host}/espi/1_1/resource"
    # two series in every fourth file: every slice of the corpus holds the
    # same readings, and single-file latencies have one dominant mode
    n_series = 2 if idx % 4 == 3 else 1
    n_readings = spec.days
    parts = [_HEADER]
    if malformed != "missing_ltp":
        parts.append(_entry("DST", f"{base}/LocalTimeParameters/01", "LocalTimeParameters",
                            _ltp(tz, start_rule, end_rule)))
        if malformed == "two_ltp":
            parts.append(_entry("DST", f"{base}/LocalTimeParameters/02", "LocalTimeParameters",
                                _ltp(tz + 3600, start_rule, end_rule)))
    up = f"{base}/UsagePoint/UP0"
    parts.append(_entry("Usage Point", up, "UsagePoint", "<espi:UsagePoint/>"))
    titles: dict[str, int] = {}
    for s in range(n_series):
        mr = f"{up}/MeterReading/MR{s}"
        rt = f"{base}/ReadingType/RT{s}"
        rt_link = f"{base}/ReadingType/RT{s}x" if malformed == "missing_rt" else rt
        parts.append(_entry("Meter Reading", mr, "MeterReading", "<espi:MeterReading/>", related=rt_link))
        fields = dict(RT_FIELDS[(idx + s) % len(RT_FIELDS)])
        fields["powerOfTenMultiplier"] += rng.randint(-1, 1)
        parts.append(_entry("Reading Type", rt, "ReadingType", _reading_type(fields)))
        title = f"{provider} {idx:04d} series {s}"
        titles[title] = n_readings
        starts = range(YEAR_START, YEAR_START + n_readings * DAY, DAY)
        n_blocks = 1 + rng.randint(1, 3) if provider == "hydro" else 1
        parts.append(_entry(
            title, f"{mr}/IntervalBlock/IB0", "IntervalBlock",
            _interval_blocks(rng, starts, DAY, cost_style, n_blocks),
        ))
    parts.append("</feed>\n")
    data = "".join(parts).encode("utf-8")
    if malformed == "bad_utf8":
        cut = data.index(b"<title>", len(_HEADER)) + len(b"<title>")
        data = data[:cut] + b"\xff\xfe" + data[cut:]
    record = {
        "provider": provider,
        "titles": {} if malformed else titles,
        "readings": 0 if malformed else n_series * n_readings,
        "error": MALFORMED[malformed] if malformed else None,
    }
    return data, record


def generate(seed: int, out_dir: str | Path, spec: Spec = SPEC) -> dict:
    """Write the corpus and its manifest into ``out_dir``; return the manifest."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(f"espi:{seed}")
    # one malformed file at a random place in each equal slice of the corpus
    slot = spec.files // max(1, len(spec.malformed))
    if slot < 2:
        raise ValueError(f"{spec.files} files leave no room for {len(spec.malformed)} malformed ones")
    bad_at = {k * slot + rng.randrange(slot): kind for k, kind in enumerate(spec.malformed)}
    names = list(PROVIDERS)
    t0 = time.perf_counter()
    files = {}
    for idx in range(spec.files):
        data, record = make_feed(rng, idx, spec, names[rng.randrange(len(names))], bad_at.get(idx))
        name = f"export_{idx:04d}.xml"
        (out / name).write_bytes(data)
        record["bytes"] = len(data)
        files[name] = record
    manifest = {
        "seed": seed,
        "spec": dataclasses.asdict(spec),
        "files": files,
        "readings": sum(r["readings"] for r in files.values()),
        "bytes": sum(r["bytes"] for r in files.values()),
    }
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    manifest["generate_s"] = time.perf_counter() - t0
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    m = generate(args.seed, args.out)
    print(json.dumps({k: m[k] for k in ("seed", "readings", "bytes", "generate_s")}))


if __name__ == "__main__":
    main()
