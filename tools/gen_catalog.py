#!/usr/bin/env python3
"""Generate docs/OPERATORS.md — the user-facing operator catalog —
from SURVEY.md §2 (the coverage checklist) so the docs cannot drift
from the inventory. Re-run after any SURVEY §2 change:

    python3 tools/gen_catalog.py

The set of entry names comes from the committed plan ledger
(ledger/plan_fingerprints.tsv), not from the Scala sources: a name that
is missing from the ledger is silently dropped from the page. After
adding or renaming entries, regenerate the plan ledger FIRST

    GRAFT_UPDATE_LEDGER=1 sbt "testOnly graft.operators.LedgerSpec"

and only then run this generator.

CatalogSpec asserts every SparkEntry.queries name appears in the
generated page, so a stale page fails the test suite.
"""
import re
import sys
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SURVEY = os.path.join(ROOT, "SURVEY.md")
OUT = os.path.join(ROOT, "docs", "OPERATORS.md")

def first_clause(desc, limit=220):
    """One-line contract: the capability description up to the first
    strong separator, cleaned of markdown emphasis."""
    d = desc.strip()
    # cut at the first em-dash-or-colon clause boundary past a minimum
    for sep in [" — ", "; "]:
        i = d.find(sep, 40)
        if 0 < i < limit:
            d = d[:i]
            break
    if len(d) > limit:
        d = d[: limit - 1].rsplit(" ", 1)[0] + "…"
    return d.replace("|", "\\|")

def gate_kind(gate):
    g = gate.lower()
    if "oracle" in g and "rows-only" in g:
        return "oracle + rows-only SV"
    if "oracle" in g:
        return "oracle (DuckDB hash)"
    if "rows-only" in g or "self-verifying" in g:
        return "rows-only self-verifying + spec"
    return "ScalaTest spec"

def parse():
    sections = []  # (title, rows)
    cur = None
    with open(SURVEY, encoding="utf-8") as f:
        for line in f:
            m = re.match(r"^### (§2\.\d+ .*)$", line.strip())
            if m:
                cur = (m.group(1), [])
                sections.append(cur)
                continue
            if re.match(r"^## ", line) and cur and not line.startswith("## §2"):
                cur = None  # left §2
            if cur is None or not line.startswith("|"):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) < 3 or cells[0] in ("#", "---") or set(cells[0]) <= {"-"}:
                continue
            rid = cells[0]
            if not re.match(r"^[A-Z]+\d+[a-z]*$", rid):
                continue
            desc = cells[1]
            gate = cells[-1]
            entries = sorted(set(re.findall(r"`([a-z][a-z0-9_]{3,})`", desc + " " + gate)))
            cur[1].append((rid, desc, gate, entries))
    return sections

def main():
    sections = parse()
    # the authoritative entry-name set: the committed ledger
    ledger = os.path.join(ROOT, "ledger", "plan_fingerprints.tsv")
    names = set()
    with open(ledger, encoding="utf-8") as f:
        for line in f:
            names.add(line.split("\t")[0])
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    n_rows = 0
    covered = set()
    with open(OUT, "w", encoding="utf-8") as w:
        w.write("# graft operator catalog\n\n")
        w.write("GENERATED from `SURVEY.md` §2 by `tools/gen_catalog.py` — do not\n"
                "edit by hand; re-run the generator after inventory changes.\n\n")
        w.write("Every row is one capability. *Entry* names are keys of\n"
                "`graft.SparkEntry.queries` (run any of them as\n"
                "`queries(name)(spark, dataDir)`); rows without an entry are\n"
                "library APIs gated by the named ScalaTest spec. Gate legend:\n"
                "**oracle** = result-hash-matched against DuckDB running the\n"
                "equivalent SQL; **rows-only self-verifying** = output carries\n"
                "its own evidence columns (recall vs exact baseline, bounds),\n"
                "spec-gated, declared where SQL can't mirror the hash family;\n"
                "**spec** = ScalaTest behavior suite.\n\n")
        for title, rows in sections:
            if not rows:
                continue
            w.write(f"## {title}\n\n")
            w.write("| id | contract | entries | gate |\n|---|---|---|---|\n")
            for rid, desc, gate, entries in rows:
                es = [e for e in entries if e in names]
                covered.update(es)
                e_str = " ".join(f"`{e}`" for e in es) if es else "—"
                w.write(f"| {rid} | {first_clause(desc)} | {e_str} | {gate_kind(gate)} |\n")
                n_rows += 1
            w.write("\n")
        missing = sorted(names - covered)
        if missing:
            w.write("## Entries not named in §2 rows\n\n")
            w.write(" ".join(f"`{m}`" for m in missing) + "\n")
    print(f"wrote {OUT}: {n_rows} capability rows, "
          f"{len(covered)}/{len(names)} entries named, {len(missing)} listed in appendix")
    return 0

if __name__ == "__main__":
    sys.exit(main())
