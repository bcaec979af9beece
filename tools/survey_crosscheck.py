"""Cross-check SURVEY.md §2b against the live query registry.

Every backticked name in the §2b table's last column must resolve to a
registered query, and every registered query must be cited somewhere in
SURVEY.md — catches the doc drift the round-7 verdict flagged (registry
grew past the table). Exit 0 iff both directions are clean.

Usage: python tools/survey_crosscheck.py           # cross-check
       python tools/survey_crosscheck.py --index   # (re)write
           SURVEY_INDEX.md, the generated per-family navigation table
           (name / one-liner / defining file:line / oracle kind /
           bench flag) — VERDICT r11 item 8. tests/test_survey_index.py
           pins the committed file fresh against the registry.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quick_and_easy_vectordb_spark.queries import QUERIES  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FAMILY_TITLES = {
    "vdb": "vdb_* — vector search parity + extensions",
    "ann": "ann_* — approximate nearest neighbor indexes",
    "dedup": "dedup_* — deduplication",
    "text": "text_* — text analysis / curation",
    "rel": "rel_* — relational / TPC-H / governance",
    "ev": "ev_* — events, time series, streaming twins, stats",
    "mm": "mm_* — multimodal (codecs, PDF, audio, image ops)",
    "udf": "udf_* — pandas/Arrow UDF surface",
    "src": "src_* — sources, sinks, lakehouse, wire formats",
    "geo": "geo_* — geospatial",
}


def one_liner(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return ""
    first = doc.split("\n\n")[0].replace("\n", " ")
    first = re.sub(r"  +", " ", first)
    # First sentence, bounded; em-dash clauses kept (they usually ARE
    # the summary), pipe escaped for the markdown table.
    m = re.match(r"(.{20,158}?[.;])(\s|$)", first)
    s = m.group(1) if m else first[:158]
    return s.replace("|", "\\|").strip()


def build_index() -> str:
    fams: dict[str, list] = {}
    for name, qd in QUERIES.items():
        fam = name.split("_", 1)[0]
        code = qd.fn.__code__
        rel = os.path.relpath(code.co_filename, _REPO)
        oracle = "sql" if qd.oracle is not None else "rows-only"
        fams.setdefault(fam, []).append(
            (name, one_liner(qd.fn), f"{rel}::{code.co_name}",
             oracle, "bench" if qd.bench else "")
        )
    lines = [
        "# SURVEY_INDEX — generated per-family query navigation table",
        "",
        "Generated by `python tools/survey_crosscheck.py --index`; do",
        "not edit by hand (tests/test_survey_index.py pins it fresh).",
        "One row per registered query: defining file::function, oracle kind",
        "(`sql` = DuckDB hash-compare, `rows-only` = non-SQL-expressible),",
        "and whether it is in the bench.py headline set. SURVEY.md §2b",
        "remains the narrative record; this is the map.",
        "",
    ]
    total = 0
    for fam in sorted(fams, key=lambda f: -len(fams[f])):
        rows = sorted(fams[fam])
        total += len(rows)
        lines.append(f"## {_FAMILY_TITLES.get(fam, fam)} ({len(rows)})")
        lines.append("")
        lines.append("| query | summary | defined at | oracle | bench |")
        lines.append("|---|---|---|---|---|")
        for name, summ, loc, oracle, bench in rows:
            lines.append(
                f"| `{name}` | {summ} | {loc} | {oracle} | {bench} |"
            )
        lines.append("")
    lines.insert(8, f"Total: {total} queries, {len(fams)} families.")
    return "\n".join(lines) + "\n"


def main() -> int:
    if "--index" in sys.argv[1:]:
        out = os.path.join(_REPO, "SURVEY_INDEX.md")
        with open(out, "w") as f:
            f.write(build_index())
        print(f"wrote {out} ({len(QUERIES)} queries)")
        return 0

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()

    cited = set(re.findall(r"`([a-z][a-z0-9_]+)`", survey))
    registry = set(QUERIES)

    dangling = sorted(n for n in cited if re.match(
        r"^(vdb|ann|dedup|text|rel|ev|mm|udf|src|geo)_", n)
        and n not in registry)
    undocumented = sorted(n for n in registry if n not in cited)

    ok = True
    if dangling:
        ok = False
        print(f"DANGLING ({len(dangling)}) — cited in SURVEY.md,"
              " not registered:")
        for n in dangling:
            print(f"  {n}")
    if undocumented:
        ok = False
        print(f"UNDOCUMENTED ({len(undocumented)}) — registered,"
              " no SURVEY.md row:")
        for n in undocumented:
            print(f"  {n}")
    if ok:
        print(f"OK: {len(registry)} registered queries all cited;"
              " no dangling names.")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
