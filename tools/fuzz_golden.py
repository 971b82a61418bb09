#!/usr/bin/env python3
"""Seeded differential fuzzer vs the EXECUTED reference engine (round-11
verdict item 2).

Generates N (default 300, +30 multiline) pseudo-random (input CSV, ETLMapping, fail_on_error) triples —
random filter rules (including the Q1 not_in literal polarity and
missing-`value` rules), nested transform configs, duplicate destination
fields, missing/None source fields, empty mappings, short rows — runs the
reference DynamicTransformer (dynamic.py:239-348) on each, and records the
result as goldens under src/test/resources/golden/fuzz/:

  case_NNN.csv           the generated input
  case_NNN.mapping.json  the generated mapping
  case_NNN.fail_on_error "True" | "False"
  case_NNN.result.json   reference counts + error set + write gate
  case_NNN.out.csv       reference output bytes (when the gate wrote)
  cases.json             index of generated case names

FuzzParitySpec then replays every case through the Spark engine and
compares counts, error sets, the write gate, and output bytes. Determinism:
every case derives from random.Random(BASE_SEED + i), so a regenerate
produces identical fixtures.

Run: python3 tools/fuzz_golden.py [N] [N_ml]   (defaults 300 30)
"""
import csv
import io
import json
import random
import sys
from pathlib import Path

sys.path.insert(0, "/root/reference/src")
from converter.transformers.dynamic import DynamicTransformer  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "src/test/resources/golden/fuzz"
OUT.mkdir(parents=True, exist_ok=True)

BASE_SEED = 74000

# distinct names, none a substring of another (the reference's formula
# evaluator replaces field names by SUBSTRING — colliding names would pin
# pure replacement-order pathology rather than mapping semantics)
COL_POOL = ["qty", "price", "status", "flag", "note", "datev", "code",
            "amount", "label", "extra"]

# cell pool: numerics (plain, comma-grouped, negative), falsy forms, dates
# in several dialects, junk dates, text with CSV-hostile chars, the
# literal strings "None" and "_default" (both are reference quirks)
CELL_POOL = [
    "", "0", "1", "2", "3.5", "-4", "10.25", "1,5", "2,000.50", "bogus",
    "active", "inactive", "unknown", "x", "spark inside", "A", "B", "ZZ",
    "None", "_default", "o'brien, jr.", 'say "hi"', "café",
    "2024-01-15T10:30:00Z", "2024-01-15T10:30:00.123Z",
    "2024-02-20 08:00:00", "2024-03-05", "15/03/2024",
    "Feb 3, 2020, 9:18:39 AM", "bad-date", "2024-13-40",
]

IN_FORMATS = ["%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d",
              "%d/%m/%Y", "%b %d, %Y, %I:%M:%S %p"]
OUT_FORMATS = ["%Y-%m-%d", "%d/%m/%Y", "%Y/%m/%d %H:%M", "%d-%b-%Y"]

CONST_POOL = [0, 1, -3, 2.5, 12.0, "fixed", "", None]

DEST_POOL = ["d_a", "d_b", "d_c", "d_d", "d_e", "d_f", "d_g", "d_h"]


def gen_condition(rng, cols):
    f = rng.choice(cols)
    v = rng.choice(["active", "x", "A", "None", "0", "nope"])
    kind = rng.randrange(4)
    if kind == 0:
        return f"{f} == '{v}'"
    if kind == 1:
        return f"{f} != '{v}'"
    if kind == 2:
        v2 = rng.choice(["inactive", "B", "1", "z"])
        return f"{f} in ['{v}', '{v2}']"
    return "?? not a condition"


def gen_field_mapping(rng, cols, dests_used):
    # duplicate destinations on purpose ~15% of the time
    if dests_used and rng.random() < 0.15:
        dest = rng.choice(sorted(dests_used))
    else:
        dest = rng.choice(DEST_POOL)
    dests_used.add(dest)
    r = rng.random()
    if r < 0.10:
        source = None
    elif r < 0.20:
        source = "ghost_col"  # never in the schema → row.get → None
    else:
        source = rng.choice(cols)
    t = rng.choices(
        ["direct", "constant", "date_format", "lookup", "suffix", "prefix",
         "formula", "conditional", "wat"],
        weights=[20, 10, 15, 15, 10, 10, 10, 10, 3])[0]
    cfg = {}
    if t == "constant":
        cfg = {"value": rng.choice(CONST_POOL)}
    elif t == "date_format":
        cfg = {}
        if rng.random() < 0.85:
            cfg["input_format"] = rng.choice(IN_FORMATS)
        if rng.random() < 0.85:
            cfg["output_format"] = rng.choice(OUT_FORMATS)
    elif t == "lookup":
        keys = rng.sample(["A", "B", "active", "x", "0", "None", "bogus"],
                          rng.randrange(1, 4))
        cfg = {k: rng.choice(["Apple", "Banana", "ACT", None, "1"])
               for k in keys}
        dflt = rng.randrange(3)
        if dflt == 0:
            cfg["_default"] = "Other"
        elif dflt == 1:
            cfg["_default"] = None
        # dflt == 2: no _default key at all
    elif t in ("suffix", "prefix"):
        cfg = {"value": rng.choice(["-X", ">>", "", "™"])}
        if rng.random() < 0.5:
            cfg["condition"] = gen_condition(rng, cols)
    elif t == "formula":
        a, b = rng.choice(cols), rng.choice(cols)
        cfg = {"expression": rng.choice([
            f"{a} * {b}", f"{a} + 2", f"{a} - {b}", f"({a} + {b}) * 2",
            f"{a} * missing_col", f"{a} / {b}", f"{a} + {b} + 0.1",
        ])}
    elif t == "conditional":
        conds = []
        for _ in range(rng.randrange(1, 3)):
            conds.append({"if": gen_condition(rng, cols),
                          "then": rng.choice(CONST_POOL)})
        if rng.random() < 0.7:
            conds.append({"else": rng.choice(CONST_POOL)})
        cfg = {"conditions": conds}
    return {"destination_field": dest, "source_field": source,
            "transform_type": t, "transform_config": cfg}


def gen_filter_rule(rng, cols):
    f = "ghost_col" if rng.random() < 0.1 else rng.choice(cols)
    op = rng.choice(["equals", "not_equals", "in", "not_in", "is_empty",
                     "is_not_empty", "contains", "junk_op"])
    rule = {"field": f, "operator": op}
    if op in ("equals", "not_equals", "contains"):
        if rng.random() < 0.12:
            pass  # missing `value` → reference compares against None
        else:
            rule["value"] = rng.choice(
                ["active", "x", "", "None", "0", "spark", "A"])
    elif op in ("in", "not_in"):
        rule["values"] = rng.sample(
            ["active", "inactive", "x", "A", "B", "", "0", "None"],
            rng.randrange(1, 4))
    return rule


def gen_case(rng):
    cols = rng.sample(COL_POOL, rng.randrange(3, 8))
    nrows = rng.randrange(4, 13)
    rows = []
    for _ in range(nrows):
        row = [rng.choice(CELL_POOL) for _ in cols]
        if rng.random() < 0.12:  # short row: DictReader pads with None
            row = row[:rng.randrange(1, len(cols))]
        rows.append(row)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(cols)
    w.writerows(rows)

    dests_used = set()
    nfm = 0 if rng.random() < 0.05 else rng.randrange(1, 7)
    mapping = {
        "id": "fuzz", "name": "Fuzz", "source_id": "s", "destination_id": "d",
        "field_mappings": [gen_field_mapping(rng, cols, dests_used)
                           for _ in range(nfm)],
        "filter_rules": [gen_filter_rule(rng, cols)
                         for _ in range(rng.randrange(0, 4))],
    }
    return buf.getvalue(), mapping, rng.random() < 0.5


# cells with embedded newlines: record ordinals diverge from physical file
# lines, which the engine's one reader (CsvSource.readWithLineNumbers)
# numbers as records. No SHORT rows here; the family above already covers
# DictReader's missing/empty distinction.
ML_EXTRA = ["li\nne", "a\n\nb", "end\n", "say \"hi\"\nbye", "x,y\nz"]


def gen_case_ml(rng):
    cols = rng.sample(COL_POOL, rng.randrange(3, 6))
    rows = [[rng.choice(CELL_POOL + ML_EXTRA) for _ in cols]
            for _ in range(rng.randrange(4, 10))]
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(cols)
    w.writerows(rows)
    dests_used = set()
    mapping = {
        "id": "fuzzml", "name": "FuzzML", "source_id": "s", "destination_id": "d",
        "field_mappings": [gen_field_mapping(rng, cols, dests_used)
                           for _ in range(rng.randrange(1, 5))],
        "filter_rules": [gen_filter_rule(rng, cols)
                         for _ in range(rng.randrange(0, 3))],
    }
    return buf.getvalue(), mapping, rng.random() < 0.5


# ---- Q2 family: formula substring-replacement hazard --------------------
# Field names that PREFIX other field names (dynamic.py:224-231 replaces by
# plain substring, so a field named `q` corrupts `qty2` references). The
# engine implements the INTENDED semantics (identifier-wise substitution,
# SURVEY §2.A Q2) — so these goldens are produced by the reference with an
# identifier-safe evaluator patched in, and the STOCK reference's output is
# recorded alongside with a ref_diverged flag. FuzzParitySpec asserts the
# engine matches the intended goldens AND that the flagged cases really do
# diverge from the stock reference — divergence-by-design as pinned data.
Q2_COLS = ["q", "qty", "qty2", "pr", "price", "price2", "amt", "amount"]
Q2_CELLS = ["", "0", "1", "2", "3.5", "-4", "1,5", "bogus", "2.5", "None"]

IDENT_RE = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")


def intended_eval_formula(self, row, expression):
    """dynamic.py:221-237 with IDENTIFIER-wise substitution — the intended
    semantics the Spark engine implements (same per-field float/0 coercion,
    same empty eval env, same exception→None)."""
    def repl(m):
        name = m.group(0)
        if name in row:
            value = row[name]
            try:
                return str(float(value) if value else 0)
            except (ValueError, TypeError):
                return "0"
        return name  # unknown identifier → NameError at eval → None
    try:
        return eval(IDENT_RE.sub(repl, expression), {"__builtins__": {}}, {})
    except Exception:
        return None


def q2_expr(rng, cols):
    a, b = rng.choice(cols), rng.choice(cols)
    return rng.choice([
        f"{a} * {b}", f"{a} + {b}", f"{a} - {b}", f"({a} + {b}) * 2",
        f"{a} / {b}", f"{a} % {b}", f"{a} + 2", f"{a} * 3 + {b}",
    ])


def gen_case_q2(rng):
    cols = rng.sample(Q2_COLS, rng.randrange(3, 7))
    nrows = rng.randrange(4, 11)
    rows = [[rng.choice(Q2_CELLS) for _ in cols] for _ in range(nrows)]
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(cols)
    w.writerows(rows)
    fms = []
    for i in range(rng.randrange(1, 4)):
        fms.append({"destination_field": f"f_{i}",
                    "source_field": rng.choice(cols),
                    "transform_type": "formula",
                    "transform_config": {"expression": q2_expr(rng, cols)}})
    if rng.random() < 0.5:  # a direct passthrough for output texture
        fms.append({"destination_field": "d_raw",
                    "source_field": rng.choice(cols),
                    "transform_type": "direct", "transform_config": {}})
    mapping = {"id": "fq2", "name": "FuzzQ2", "source_id": "s",
               "destination_id": "d", "field_mappings": fms,
               "filter_rules": []}
    return buf.getvalue(), mapping, rng.random() < 0.3


# ---- Q3 family: lookup `_default` key collision --------------------------
# A source value literally equal to "_default" reads the default entry
# (dynamic.py:127-129) — the engine reproduces this exactly (TransformCompiler
# "quirk Q3"), so these goldens come from the STOCK reference and pin
# AGREEMENT: collision-with-default, collision-with-null-default (no error —
# "_default" counts as a table key), and collision-without-default (error).
def gen_case_q3(rng):
    cols = rng.sample(COL_POOL, rng.randrange(3, 6))
    nrows = rng.randrange(5, 12)
    cells = CELL_POOL + ["_default"] * 6  # make collisions common
    rows = [[rng.choice(cells) for _ in cols] for _ in range(nrows)]
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(cols)
    w.writerows(rows)
    fms = []
    for i in range(rng.randrange(1, 4)):
        keys = rng.sample(["A", "active", "_default", "x", "None"],
                          rng.randrange(1, 3))
        cfg = {k: rng.choice(["Apple", "ACT", None, "1"]) for k in keys}
        dflt = rng.randrange(3)
        if dflt == 0:
            cfg["_default"] = "Other"
        elif dflt == 1:
            cfg["_default"] = None
        fms.append({"destination_field": f"l_{i}",
                    "source_field": rng.choice(cols),
                    "transform_type": "lookup", "transform_config": cfg})
    mapping = {"id": "fq3", "name": "FuzzQ3", "source_id": "s",
               "destination_id": "d", "field_mappings": fms,
               "filter_rules": []}
    return buf.getvalue(), mapping, rng.random() < 0.5


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    n_ml = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    def run_case(name, csv_text, mapping, fail_on_error):
        src = OUT / f"{name}.csv"
        src.write_text(csv_text, encoding="utf-8")
        (OUT / f"{name}.mapping.json").write_text(
            json.dumps(mapping, indent=1, ensure_ascii=False), encoding="utf-8")
        (OUT / f"{name}.fail_on_error").write_text(str(fail_on_error))
        out = OUT / f"{name}.out.csv"
        if out.exists():
            out.unlink()
        t = DynamicTransformer(mapping)
        r = t.transform_file(src, out, fail_on_error=fail_on_error)
        golden = {
            "success_count": r.success_count,
            "skipped_count": r.skipped_count,
            "error_count": r.error_count,
            "written": out.exists(),
            "errors": [
                {"line_number": e.line_number, "field": e.field,
                 "source_value": None if e.source_value is None
                 else str(e.source_value)}
                for e in r.errors
            ],
        }
        (OUT / f"{name}.result.json").write_text(
            json.dumps(golden, indent=1, ensure_ascii=False), encoding="utf-8")
        return golden

    names = []
    for i in range(n):
        rng = random.Random(BASE_SEED + i)
        name = f"case_{i:03d}"
        run_case(name, *gen_case(rng))
        names.append(name)
    (OUT / "cases.json").write_text(json.dumps(names))
    ml_names = []
    for i in range(n_ml):
        rng = random.Random(BASE_SEED + 10000 + i)
        name = f"case_ml_{i:03d}"
        run_case(name, *gen_case_ml(rng))
        ml_names.append(name)
    (OUT / "cases_ml.json").write_text(json.dumps(ml_names))

    # Q3 family: stock reference, pinning AGREEMENT on _default collisions
    q3_names = []
    for i in range(40):
        rng = random.Random(BASE_SEED + 20000 + i)
        name = f"case_q3_{i:03d}"
        run_case(name, *gen_case_q3(rng))
        q3_names.append(name)
    (OUT / "cases_q3.json").write_text(json.dumps(q3_names))

    # Q2 family: intended-semantics goldens (identifier-safe evaluator
    # patched into the reference) + the STOCK reference's run recorded as a
    # .ref twin with a divergence flag
    q2_names = []
    n_div = 0
    stock_eval = DynamicTransformer._evaluate_formula
    for i in range(40):
        rng = random.Random(BASE_SEED + 30000 + i)
        name = f"case_q2_{i:03d}"
        csv_text, mapping, foe = gen_case_q2(rng)
        ref_golden = run_case(f"{name}.ref", csv_text, mapping, foe)
        DynamicTransformer._evaluate_formula = intended_eval_formula
        try:
            golden = run_case(name, csv_text, mapping, foe)
        finally:
            DynamicTransformer._evaluate_formula = stock_eval
        ref_out = OUT / f"{name}.ref.out.csv"
        int_out = OUT / f"{name}.out.csv"
        diverged = (golden != ref_golden) or \
            (ref_out.exists() != int_out.exists()) or \
            (ref_out.exists() and ref_out.read_bytes() != int_out.read_bytes())
        golden["ref_diverged"] = diverged
        (OUT / f"{name}.result.json").write_text(
            json.dumps(golden, indent=1, ensure_ascii=False), encoding="utf-8")
        n_div += diverged
        q2_names.append(name)
    (OUT / "cases_q2.json").write_text(json.dumps(q2_names))
    print(f"q2: {n_div}/{len(q2_names)} diverge from stock reference; "
          f"q3: {len(q3_names)} agreement cases")

    alln = names + ml_names + q3_names + q2_names
    written = sum(1 for c in alln if (OUT / f"{c}.out.csv").exists())
    errs = sum(json.loads((OUT / f"{c}.result.json").read_text())["error_count"]
               for c in alln)
    print(f"{n}+{n_ml} cases; {written} wrote output; {errs} total field errors")


if __name__ == "__main__":
    main()
