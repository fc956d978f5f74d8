#!/usr/bin/env python3
"""Doc-vs-artifact sync gate: the numbers SCALE.md and COVERAGE.md quote
must appear verbatim in the committed artifacts of the same HEAD.

Why this exists: three consecutive round verdicts (r10/r11/r12) led with
the same defect — SCALE.md's "Measured" paragraph and COVERAGE.md's
header quoting a PRIOR round's bench/correctness numbers that
contradicted the committed BENCH_LAST.json / CORRECTNESS_r{N}.json.
Prose drifts silently; this gate makes the drift a red exit code.

Checks
  1. SCALE.md "Current (round-N ...)" paragraph: headline median/min,
     tpch22_total, llm_total — each must equal the value in the capture
     of record (BENCH_RECORD.json, the explicitly promoted capture;
     falls back to BENCH_LAST.json on old trees) rounded to the quoted
     precision (2 decimals). BENCH_LAST.json stays the driver-
     overwritable "most recent capture" and is deliberately NOT gated.
  2. Both docs' catalog triple "catalog Q/O/R" (total queries /
     oracle-eligible hash-exact / rows-only) must match the newest
     CORRECTNESS_r*.json.
  3. SCALE.md "Subquery-shape slice" paragraph: every quoted "qNN α X"
     must equal the SCALECURVE_SUBQ.json exponent at the quoted
     precision (an "α ≤ X" group is checked as an upper bound), and
     every "×F point (N M lineitem rows" claim must match
     table_rows.xF.lineitem (the r13 advice caught a 10x overstatement
     there).
  4. Rewrite A/B quotes "qN A vs B s (xF)" in the same paragraph must
     match ABRW.json's rewrite/literal mins at the quoted precision.
  5. Both docs' "S/S specs": if target/test-reports/*.xml exists (a
     fresh `sbt test`), S must equal the summed test count; otherwise
     the spec count is reported but not enforced (stale target/ would
     false-alarm).

Usage: python3 tools/doc_sync_check.py   (from the repo root)
Exit 0 = in sync; 1 = drift (each mismatch printed).
"""
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
fails = []


def fail(msg):
    fails.append(msg)
    print(f"[DRIFT] {msg}")


def ok(msg):
    print(f"[ok   ] {msg}")


def read(path):
    with open(os.path.join(ROOT, path)) as f:
        return f.read()


# ---- artifacts ----------------------------------------------------------
# The capture OF RECORD is BENCH_RECORD.json — an explicitly PROMOTED
# copy of a BENCH_LAST.json capture. BENCH_LAST.json itself is the most
# recent capture and is routinely overwritten by the driver's
# end-of-round bench (r12 and r13 both had to adjudicate that overwrite
# after it broke this gate); promoting the record to its own file makes
# the overwrite harmless. Fallback to BENCH_LAST.json keeps old trees
# checking.
bench_name = ("BENCH_RECORD.json"
              if os.path.exists(os.path.join(ROOT, "BENCH_RECORD.json"))
              else "BENCH_LAST.json")
bench = json.load(open(os.path.join(ROOT, bench_name)))
corr_files = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
if not corr_files:
    print("no CORRECTNESS_r*.json found")
    sys.exit(1)
corr = json.load(open(corr_files[-1]))
corr_name = os.path.basename(corr_files[-1])
n_total = len(corr)
n_exact = sum(1 for v in corr.values() if v.get("hash_match") is True)
n_rows_only = sum(1 for v in corr.values() if v.get("err") == "no_oracle")
n_bad = n_total - n_exact - n_rows_only
if n_bad:
    fail(f"{corr_name} has {n_bad} non-exact oracle rows — fix those first")

spec_total = None
reports = glob.glob(os.path.join(ROOT, "target/test-reports/*.xml"))
if reports:
    spec_total = 0
    for r in reports:
        m = re.search(r'tests="(\d+)"', open(r).read())
        if m:
            spec_total += int(m.group(1))

scale = read("SCALE.md")
coverage = read("COVERAGE.md")

# ---- 1. SCALE.md measured paragraph vs the capture of record ------------
cur = re.search(r"\*\*Current \(round-\d+[^*]*\*\*", scale, re.S)
if not cur:
    fail('SCALE.md has no "**Current (round-N ...)**" measured paragraph')
else:
    para = cur.group(0)
    def artifact(key):
        """Top-level key, or section.query path."""
        cur = bench
        for part in key.split("."):
            cur = cur[part]
        return cur

    for label, pattern, key in [
        ("headline median", r"headline\s+([\d.]+)\s*s\s+median", "value"),
        ("headline min", r"median\s*/\s*([\d.]+)\s*s\s+min", "value_min"),
        ("tpch22_total", r"tpch22_total\s+([\d.]+)\s*s", "tpch22_total"),
        ("llm_total", r"llm_total\s+([\d.]+)\s*s", "llm_total"),
        # per-query quotes in the Current paragraph (reported per-query
        # MINs; "~"-prefixed approximations are deliberately not quoted
        # to artifact precision and carry no pattern here)
        ("q21", r"q21\s+([\d.]+)\s*s", "tpch22.q21_suppliers_waiting"),
        ("q17", r"q17\s+([\d.]+)\s*s", "tpch22.q17_small_quantity"),
        ("q18", r"q18\s+([\d.]+)\s*s", "tpch22.q18_large_volume"),
        ("q22", r"q22\s+([\d.]+)\s*s", "tpch22.q22_global_sales"),
        ("q15", r"q15\s+([\d.]+)\s*s", "tpch22.q15_top_supplier"),
        # round-18 split: the serve row lives in the llm suite, training
        # is its own top-level gated section
        ("ss20_serve", r"ss20_serve\s+([\d.]+)\s*s", "llm.ss20_serve"),
        ("ss20_train", r"ss20_train\s+([\d.]+)\s*s", "ss20_train_sec"),
    ]:
        m = re.search(pattern, para)
        if not m:
            fail(f"SCALE.md Current paragraph does not quote {label}")
            continue
        quoted = m.group(1)
        val = artifact(key)
        actual = round(val, len(quoted.split(".")[1]) if "." in quoted else 0)
        if float(quoted) != actual:
            fail(f"SCALE.md quotes {label} {quoted} s but {bench_name}"
                 f" {key} = {val:.4f} (rounds to {actual})")
        else:
            ok(f"SCALE.md {label} {quoted} s == {bench_name} {key}")

# ---- 2. catalog triple in both docs vs CORRECTNESS ----------------------
# A triple may carry a round tag — "catalog Q/O/R (rNN gate)" — which
# pins it to CORRECTNESS_rNN.json specifically. This exists for triple
# TRANSITIONS (round 15 upgrades the 6 sketch queries from rows-only to
# ε-bounds, flipping 291/285/6 → 291/291/0): the docs can state both the
# committed round's triple and the expected next-round one, each checked
# against its own artifact; a forward tag whose artifact the driver has
# not yet written is reported but not failed. Untagged triples must
# match the NEWEST artifact (the original rule), and at least one triple
# (tagged or not) must match the newest artifact so the current state is
# always quoted somewhere.


def triple_of(path):
    c = json.load(open(path))
    t = len(c)
    e = sum(1 for v in c.values() if v.get("hash_match") is True)
    r = sum(1 for v in c.values() if v.get("err") == "no_oracle")
    return f"{t}/{e}/{r}"


expected_triple = f"{n_total}/{n_exact}/{n_rows_only}"
newest_matched = False
for doc_name, text in [("SCALE.md", scale), ("COVERAGE.md", coverage)]:
    triples = re.findall(r"catalog (\d+/\d+/\d+)(?:\s*\(r(\d+) gate\))?",
                         text, re.I)
    if not triples:
        fail(f'{doc_name} has no "catalog Q/O/R" triple')
    for t, tag in triples:
        if tag:
            tagged_path = os.path.join(ROOT, f"CORRECTNESS_r{tag}.json")
            if not os.path.exists(tagged_path):
                print(f"[warn ] {doc_name} catalog {t} (r{tag} gate) —"
                      f" CORRECTNESS_r{tag}.json not written yet, deferred")
                continue
            actual = triple_of(tagged_path)
            if t != actual:
                fail(f"{doc_name} quotes catalog {t} (r{tag} gate) but"
                     f" CORRECTNESS_r{tag}.json says {actual}")
            else:
                ok(f"{doc_name} catalog {t} == CORRECTNESS_r{tag}.json")
                if actual == expected_triple:
                    newest_matched = True
        elif t != expected_triple:
            fail(f"{doc_name} quotes catalog {t} but {corr_name}"
                 f" says {expected_triple}")
        else:
            ok(f"{doc_name} catalog {t} == {corr_name}")
            newest_matched = True
if not newest_matched and not any(f.startswith(("SCALE.md quotes catalog",
                                                "COVERAGE.md quotes catalog"))
                                  for f in fails):
    fail(f"no doc triple matches the newest artifact {corr_name}"
         f" ({expected_triple}) — the current state must be quoted")

# ---- 3. subquery-slice paragraph vs SCALECURVE_SUBQ.json -----------------
subq_path = os.path.join(ROOT, "SCALECURVE_SUBQ.json")
if os.path.exists(subq_path):
    subq = json.load(open(subq_path))
    para_m = re.search(r"Subquery-shape slice.*?\n\n", scale, re.S)
    if not para_m:
        fail('SCALE.md has no "Subquery-shape slice" paragraph')
    else:
        para = para_m.group(0)
        # short name (q18) -> exponent, from the artifact
        alphas = {q.split("_")[0]: v["exponent"]
                  for q, v in subq["queries"].items()}
        quotes = re.findall(r"((?:q\d+/)*q\d+) α (≤ )?([\d.]+)", para)
        if not quotes:
            fail("SCALE.md subquery-slice paragraph quotes no α values")
        for names, bound, alpha in quotes:
            prec = len(alpha.split(".")[1]) if "." in alpha else 0
            for nm in names.split("/"):
                if nm not in alphas:
                    fail(f"SCALE.md subquery slice quotes {nm} α but"
                         f" SCALECURVE_SUBQ.json has no {nm}_* query")
                    continue
                actual = round(alphas[nm], prec)
                if bound:
                    if actual > float(alpha):
                        fail(f"SCALE.md bounds {nm} α ≤ {alpha} but"
                             f" SCALECURVE_SUBQ.json exponent ="
                             f" {alphas[nm]:.4f}")
                    else:
                        ok(f"SCALE.md {nm} α ≤ {alpha} holds"
                           f" (artifact {alphas[nm]:.4f})")
                elif actual != float(alpha):
                    fail(f"SCALE.md quotes {nm} α {alpha} but"
                         f" SCALECURVE_SUBQ.json exponent = {alphas[nm]:.4f}"
                         f" (rounds to {actual})")
                else:
                    ok(f"SCALE.md {nm} α {alpha} == SCALECURVE_SUBQ.json")
        # the "×F point (N M lineitem rows" claims (the r13 advice found a
        # 10x overstatement here)
        for fac, mrows in re.findall(
                r"×(\d+)[^(]*\(([\d.]+)\s*M lineitem", para):
            key = f"x{fac}"
            if key not in subq.get("table_rows", {}):
                fail(f"SCALE.md quotes ×{fac} lineitem rows but"
                     f" SCALECURVE_SUBQ.json table_rows has no {key}")
                continue
            actual = subq["table_rows"][key]["lineitem"] / 1e6
            # compare at the quoted precision (same rule as the α check:
            # a fixture with 6,001,215 rows must be quotable as "6 M")
            prec = len(mrows.split(".")[1]) if "." in mrows else 0
            if float(mrows) != round(actual, prec):
                fail(f"SCALE.md says ×{fac} has {mrows} M lineitem rows but"
                     f" SCALECURVE_SUBQ.json table_rows.{key}.lineitem ="
                     f" {actual} M")
            else:
                ok(f"SCALE.md ×{fac} {mrows} M lineitem rows =="
                   f" SCALECURVE_SUBQ.json")

# ---- 3b. rewrite A/B quotes vs ABRW.json ---------------------------------
abrw_path = os.path.join(ROOT, "ABRW.json")
if os.path.exists(abrw_path):
    abrw = json.load(open(abrw_path))
    # Scan the WHOLE of SCALE.md, not just the subquery paragraph: an A/B
    # quote added anywhere else would otherwise escape the gate (the
    # pattern is specific enough that false positives are implausible).
    pairs = re.findall(
        r"((?:q|dd|ss|ta)\d+(?:gate|bloom|hash)?) ([\d.]+)\s*vs\s*([\d.]+)"
        r"\s*s \(×(\d+)\)", scale)
    if not pairs:
        fail("SCALE.md quotes no 'qN A vs B s (×F)' A/B pairs but"
             " ABRW.json exists")
    for q, rw, lt, fac in pairs:
        key = f"x{fac}"
        if key not in abrw or q not in abrw[key]:
            fail(f"SCALE.md quotes {q} A/B at ×{fac} but ABRW.json has"
                 f" no {key}/{q} entry")
            continue
        ent = abrw[key][q]
        okrow = True
        for label, quoted, actual in [("rewrite", rw, ent["rewrite"]),
                                      ("literal", lt, ent["literal"])]:
            prec = len(quoted.split(".")[1]) if "." in quoted else 0
            if float(quoted) != round(actual, prec):
                fail(f"SCALE.md quotes {q} {label} {quoted} s at ×{fac}"
                     f" but ABRW.json says {actual:.4f}")
                okrow = False
        if okrow:
            ok(f"SCALE.md {q} {rw} vs {lt} s (×{fac}) == ABRW.json")

# ---- 3a2. ×100 scan-shape slice vs SCALECURVE_X100.json -------------------
# The round-15 stretch point: q1/q6 (the flattest scan shapes) measured a
# decade past the ×30 ceiling. Same α/row-count checks as the subquery
# slice, against the focused artifact the run was required to name.
x100_path = os.path.join(ROOT, "SCALECURVE_X100.json")
if os.path.exists(x100_path):
    x100 = json.load(open(x100_path))
    para_m = re.search(r"×100 scan-shape slice.*?\n\n", scale, re.S)
    if not para_m:
        fail('SCALE.md has no "×100 scan-shape slice" paragraph but'
             ' SCALECURVE_X100.json exists')
    else:
        para = para_m.group(0)
        # Fail fast if two artifact query names collapse to the same
        # short prefix (e.g. q1_a and q1_b) — json dicts would silently
        # keep only the last, the same silent-duplicate-key failure
        # class round 15 fixed in the A/B and sweep harnesses (round-16
        # advice).
        prefixes = [q.split("_")[0] for q in x100["queries"]]
        dupes = {p for p in prefixes if prefixes.count(p) > 1}
        if dupes:
            fail(f"SCALECURVE_X100.json has queries sharing a prefix"
                 f" {sorted(dupes)} — α quotes would silently collapse")
        alphas = {q.split("_")[0]: v["exponent"]
                  for q, v in x100["queries"].items()}
        quotes = re.findall(r"((?:q|ta)\d+) α ([\d.]+)", para)
        if not quotes:
            fail("SCALE.md ×100 paragraph quotes no α values")
        for nm, alpha in quotes:
            if nm not in alphas:
                fail(f"SCALE.md ×100 slice quotes {nm} α but"
                     f" SCALECURVE_X100.json has no {nm}_* query")
                continue
            prec = len(alpha.split(".")[1]) if "." in alpha else 0
            if float(alpha) != round(alphas[nm], prec):
                fail(f"SCALE.md ×100 quotes {nm} α {alpha} but artifact"
                     f" exponent = {alphas[nm]:.4f}")
            else:
                ok(f"SCALE.md ×100 {nm} α {alpha} == SCALECURVE_X100.json")
        m = re.search(r"\(([\d.]+)\s*M\s+lineitem", para)
        if m:
            actual = x100["table_rows"]["x100"]["lineitem"] / 1e6
            prec = len(m.group(1).split(".")[1]) if "." in m.group(1) else 0
            if float(m.group(1)) != round(actual, prec):
                fail(f"SCALE.md ×100 says {m.group(1)} M lineitem rows but"
                     f" artifact = {actual} M")
            else:
                ok(f"SCALE.md ×100 {m.group(1)} M lineitem rows == artifact")
        else:
            fail("SCALE.md ×100 paragraph quotes no lineitem row count")

# ---- 3b2. ss20 operating-point quotes vs IVFPQAB.json ---------------------
# The round-15 adopt-or-keep note quotes sweep points as
# "npN_mM_cbC X s / R" (min seconds / recall_l2@20). Scan the WHOLE of
# SCALE.md (same rationale as 3b): a point quoted anywhere must match
# the committed artifact at the quoted precision.
ivfpq_path = os.path.join(ROOT, "IVFPQAB.json")
if os.path.exists(ivfpq_path):
    ivfpq = json.load(open(ivfpq_path))
    pts = re.findall(r"(np\d+_m\d+_cb\d+) ([\d.]+)\s*s / ([\d.]+)", scale)
    if not pts:
        fail("SCALE.md quotes no 'npN_mM_cbC X s / R' sweep points but"
             " IVFPQAB.json exists")
    for lbl, sec, rec in pts:
        if lbl not in ivfpq:
            fail(f"SCALE.md quotes ss20 sweep point {lbl} but IVFPQAB.json"
                 f" has no such key")
            continue
        ent = ivfpq[lbl]
        okrow = True
        for label, quoted, actual in [("sec", sec, ent["sec"]),
                                      ("recall_l2@20", rec,
                                       ent["recall_l2_at20"])]:
            prec = len(quoted.split(".")[1]) if "." in quoted else 0
            if float(quoted) != round(actual, prec):
                fail(f"SCALE.md quotes {lbl} {label} {quoted} but"
                     f" IVFPQAB.json says {actual:.4f}")
                okrow = False
        if okrow:
            ok(f"SCALE.md ss20 point {lbl} {sec} s / {rec} == IVFPQAB.json")

# ---- 3b3. planted-fixture sweep quotes vs IVFPQAB_PLANTED.json ------------
# The round-16 structured-fixture re-audit quotes points as
# "npN_mM_cbC planted X s / R" (min seconds / recall_l2@20 on the
# planted-cluster embeddings). Disjoint from 3b2's format (the word
# "planted" between label and seconds), so the two artifacts can never
# cross-gate.
planted_path = os.path.join(ROOT, "IVFPQAB_PLANTED.json")
if os.path.exists(planted_path):
    planted = json.load(open(planted_path))
    pts = re.findall(
        r"((?:serve_)?np\d+_m\d+_cb\d+(?:_rr\d+)?|ss\d+_\w+) planted ([\d.]+)"
        r"\s*s / ([\d.]+)",
        scale)
    if not pts:
        fail("SCALE.md quotes no 'npN_mM_cbC planted X s / R' points but"
             " IVFPQAB_PLANTED.json exists")
    for lbl, sec, rec in pts:
        if lbl not in planted:
            fail(f"SCALE.md quotes planted point {lbl} but"
                 f" IVFPQAB_PLANTED.json has no such key")
            continue
        ent = planted[lbl]
        okrow = True
        # recall field: recall_l2_at20 for the L2-truthed PQ/family
        # points; recall_self for the round-18 self-truthed composition
        # rows (ss11 ip@20, ss18 mmr_selection@5 — the "truth" field in
        # the artifact names each row's objective)
        rec_actual = ent.get("recall_l2_at20", ent.get("recall_self"))
        rec_name = ("recall_l2@20" if "recall_l2_at20" in ent
                    else f"recall_self({ent.get('truth', '?')})")
        if rec_actual is None:
            fail(f"SCALE.md quotes planted point {lbl} but its artifact"
                 f" entry has neither recall_l2_at20 nor recall_self")
            continue
        for label, quoted, actual in [("sec", sec, ent["sec"]),
                                      (rec_name, rec, rec_actual)]:
            prec = len(quoted.split(".")[1]) if "." in quoted else 0
            if float(quoted) != round(actual, prec):
                fail(f"SCALE.md quotes planted {lbl} {label} {quoted} but"
                     f" IVFPQAB_PLANTED.json says {actual:.4f}")
                okrow = False
        if okrow:
            ok(f"SCALE.md planted point {lbl} {sec} s / {rec} =="
               f" IVFPQAB_PLANTED.json")

# ---- 3b4. strict ×10 oracle sweep vs STRICT_X10.json ----------------------
# The round-19 correctness-above-fixture-scale net: a full Verify dump on
# the ×10 synthetic replica strict-compared against DuckDB
# (tools/oracle_check_strict.py). SCALE.md must quote the artifact's
# counts exactly — a re-run that regresses would otherwise leave stale
# prose claiming a green sweep.
for factor in (10, 30):
    strictx_path = os.path.join(ROOT, f"STRICT_X{factor}.json")
    if not os.path.exists(strictx_path):
        continue
    sx = json.load(open(strictx_path))
    m = re.search(
        r"strict_ok=(\d+) bad=(\d+) err=(\d+) at ×" + str(factor), scale)
    if not m:
        fail(f"STRICT_X{factor}.json exists but SCALE.md quotes no"
             f" 'strict_ok=N bad=N err=N at ×{factor}' line")
    else:
        for name, quoted in zip(("strict_ok", "bad", "err"), m.groups()):
            if int(quoted) != sx.get(name, -1):
                fail(f"SCALE.md quotes {name}={quoted} at ×{factor} but"
                     f" STRICT_X{factor}.json says {sx.get(name)}")
            else:
                ok(f"SCALE.md ×{factor} strict {name}={quoted} =="
                   f" STRICT_X{factor}.json")

# ---- 3b5. small-heap capture quotes vs BENCH_SMALLHEAP.json ---------------
# Round-19 informational capture at SPARK_DRIVER_MEM=6g. SCALE.md quotes
# "headline A s median / B s min at 6g" plus the strict sweep counts
# ("strict_ok=N bad=N err=N at 6g") — both must match the artifact (the
# strict counts are prose-of-record from the committed run log; gate the
# bench numbers, which have a JSON source).
smallheap_path = os.path.join(ROOT, "BENCH_SMALLHEAP.json")
if os.path.exists(smallheap_path):
    sh = json.load(open(smallheap_path))
    m = re.search(r"headline ([\d.]+) s median / ([\d.]+) s min at 6g",
                  scale)
    if not m:
        fail("BENCH_SMALLHEAP.json exists but SCALE.md quotes no"
             " 'headline A s median / B s min at 6g' line")
    else:
        for name, quoted, actual in [("median", m.group(1), sh["value"]),
                                     ("min", m.group(2), sh["value_min"])]:
            prec = len(quoted.split(".")[1]) if "." in quoted else 0
            if float(quoted) != round(actual, prec):
                fail(f"SCALE.md quotes 6g headline {name} {quoted} but"
                     f" BENCH_SMALLHEAP.json says {actual:.4f}")
            else:
                ok(f"SCALE.md 6g headline {name} {quoted} =="
                   f" BENCH_SMALLHEAP.json")

# ---- 3c. retry-pressure high-water vs BENCH_RECORD ------------------------
# The drift-watch quotes the worst observed retry pressure (bounded
# retries / residual flags / median of that capture). The numbers are
# pinned in the gated BENCH_RECORD.json (the source capture lives in
# driver-overwritable BENCH_LAST, which must never be a gate target).
hw = bench.get("retry_pressure_high_water") if isinstance(bench, dict) else None
if hw:
    m = re.search(r"retry high-water (\d+)\s+bounded retries with (\d+)\s+"
                  r"residual flags at a ([\d.]+)\s*s median", scale)
    if not m:
        fail("SCALE.md has no 'retry high-water N bounded retries with"
             " M residual flags at a X s median' sentence but BENCH_RECORD"
             " pins retry_pressure_high_water")
    else:
        # median compares at the QUOTED precision (the file's standard
        # rule) — exact float equality would false-alarm the first time a
        # high-water is pinned with a full-precision median while the doc
        # quotes two decimals (round-15 review finding)
        med_q = m.group(3)
        med_prec = len(med_q.split(".")[1]) if "." in med_q else 0
        quoted = (int(m.group(1)), int(m.group(2)), float(med_q))
        actual = (hw["stall_retry_count"], hw["residual_flag_count"],
                  round(hw["median_sec"], med_prec))
        if quoted != actual:
            fail(f"SCALE.md retry high-water quotes {quoted} but"
                 f" BENCH_RECORD.retry_pressure_high_water = {actual}"
                 f" (median {hw['median_sec']} at quoted precision)")
        else:
            ok(f"SCALE.md retry high-water {quoted} == BENCH_RECORD")

# ---- 4. spec counts ------------------------------------------------------
for doc_name, text in [("SCALE.md", scale), ("COVERAGE.md", coverage)]:
    counts = re.findall(r"(\d+)/(\d+)\s+specs", text)
    current = [c for c in counts if c[0] == c[1]]
    if not current:
        fail(f'{doc_name} has no "S/S specs" count')
        continue
    quoted = int(current[-1][0])
    if spec_total is None:
        print(f"[warn ] {doc_name} quotes {quoted} specs — no fresh"
              f" target/test-reports to verify against")
    elif quoted != spec_total:
        fail(f"{doc_name} quotes {quoted} specs but target/test-reports"
             f" sums to {spec_total}")
    else:
        ok(f"{doc_name} specs {quoted} == test-reports sum")

print(f"\n{'DRIFT: ' + str(len(fails)) + ' mismatch(es)' if fails else 'in sync'}")
sys.exit(1 if fails else 0)
