#!/usr/bin/env python3
"""Rebuilds the reference's shipped mapping store for the tests.

    python3 tools/rebuild_mappings_config.py

Standard library only. Writes src/test/resources/config/mappings.json, a
copy of the reference's data/config/mappings.json rebuilt from goldens the
repo already holds:

  - golden/surface/mappings_upsert_expected.json is the reference's
    save_mapping applied to the shipped file: it edits the description of
    revolut_stocks_to_ghostfolio in place and appends unit_test_mapping.
    Every other byte is the original's.
  - golden/stocks_dynamic.mapping.json holds the original
    revolut_stocks_to_ghostfolio entry (tools/gen_golden.py dumps it from
    the shipped file), so its description is the one to put back.

The store is written as the reference writes it: json.dumps(..., indent=2),
ASCII-escaped, no trailing newline. Exits non-zero, writing nothing, unless
  1. both Revolut entries equal their gen_golden dumps, key order included;
  2. the three entries sit at the line spans SURVEY.md and FIXTURES.md cite
     (mappings.json:2-90, 91-177, 178-205);
  3. re-applying the upsert to the rebuilt store gives back
     mappings_upsert_expected.json byte for byte.
"""
import copy
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GOLD = ROOT / "src/test/resources/golden"
UPSERT = GOLD / "surface/mappings_upsert_expected.json"
OUT = ROOT / "src/test/resources/config/mappings.json"

STOCKS = "revolut_stocks_to_ghostfolio"
CRYPTO = "revolut_crypto_to_ghostfolio"
APPENDED = "unit_test_mapping"
EDITED_DESCRIPTION = "Convert Revolut stock trades to Ghostfolio format (v2 — edited)"
SPANS = {STOCKS: (2, 90), CRYPTO: (91, 177), "teste_mapping_1": (178, 205)}

# What SurfaceSpec's upsert appends, as the reference's ETLMapping.to_dict
# renders it.
APPENDED_ENTRY = {
    "id": APPENDED,
    "name": "Unit → Test",
    "source_id": "revolut_stocks",
    "destination_id": "ghostfolio",
    "description": "",
    "field_mappings": [
        {"destination_field": "date", "source_field": "Date",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "fee", "source_field": None,
         "transform_type": "constant", "transform_config": {"value": 0.5}},
    ],
    "filter_rules": [{"field": "Type", "operator": "equals", "value": "SKIP"}],
}


def dump(obj):
    return json.dumps(obj, indent=2)


def load(path):
    return json.loads(path.read_text(encoding="utf-8"))


def rebuild():
    store = load(UPSERT)
    del store[APPENDED]
    store[STOCKS]["description"] = load(GOLD / "stocks_dynamic.mapping.json")["description"]
    return store


def line_spans(text):
    """First and last 1-based line of each top-level entry."""
    spans, key, start = {}, None, 0
    for n, line in enumerate(text.split("\n"), start=1):
        if line.startswith('  "') and line.endswith("{"):
            key, start = json.loads(line.rsplit(":", 1)[0]), n
        elif line in ("  }", "  },"):
            spans[key] = (start, n)
    return spans


def reapply_upsert(store):
    out = copy.deepcopy(store)
    out[STOCKS]["description"] = EDITED_DESCRIPTION
    out[APPENDED] = APPENDED_ENTRY
    return dump(out)


def main():
    store = rebuild()
    text = dump(store)
    failures = []
    for key, name in ((STOCKS, "stocks_dynamic"), (CRYPTO, "crypto_dynamic")):
        # dump() compares key order too, not just dict equality
        if dump(store[key]) != dump(load(GOLD / f"{name}.mapping.json")):
            failures.append(f"{key} differs from golden/{name}.mapping.json")
    spans = line_spans(text)
    if spans != SPANS:
        failures.append(f"line spans {spans} != {SPANS}")
    if reapply_upsert(store) != UPSERT.read_text(encoding="utf-8"):
        failures.append(f"re-applied upsert differs from {UPSERT.relative_to(ROOT)}")
    if failures:
        for f in failures:
            print("FAIL:", f, file=sys.stderr)
        return 1
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_bytes(text.encode("ascii"))
    print(f"wrote {OUT.relative_to(ROOT)}: {len(text)} bytes, spans {spans}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
