"""Regenerate the COVERAGE.md driver-verification ledger: for every
registered query, the first round whose committed CORRECTNESS_r*.json
carries a GREEN driver row (rows+schema+hash all passing, or the weaker
rows-only pass for non-SQL-expressible ops), or `never` when the driver has
not yet sampled the name. Run from the repo root; prints the markdown
section between the BEGIN/END markers and, with --write, splices it into
COVERAGE.md in place.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- BEGIN driver-round ledger (tools/coverage_rounds.py) -->"
END = "<!-- END driver-round ledger -->"


def build_section() -> str:
    from cdc_debezium_kafka_airflow_spark.queries.registry import (
        _row_green,
        get_queries,
    )

    first_green: dict[str, int] = {}
    checked_rounds: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError) as exc:
            print(f"REGISTRY-CORRECTNESS-SKIPPED: {path}: {exc}", file=sys.stderr)
            continue
        for name, row in data.items():
            checked_rounds.setdefault(name, []).append(rnd)
            if _row_green(row) and (
                name not in first_green or rnd < first_green[name]
            ):
                first_green[name] = rnd

    names = sorted(get_queries())
    n_green = sum(1 for n in names if n in first_green)
    n_never = len(names) - n_green
    lines = [
        BEGIN,
        "",
        "## Driver-verification ledger (per name, regenerated per round)",
        "",
        f"Registry: **{len(names)}** queries. Driver-green (>=1 green row in "
        f"a committed CORRECTNESS_r*.json): **{n_green}**. Never driver-"
        f"sampled: **{n_never}** (these still pass the local "
        "`tools/check_oracles.py` gate and pytest; the driver rotation "
        "drains them at ~40 names/round — queries/registry.py).",
        "",
        "| query | first green | query | first green |",
        "|---|---|---|---|",
    ]
    cells = [
        (n, f"r{first_green[n]:02d}" if n in first_green else "never")
        for n in names
    ]
    half = (len(cells) + 1) // 2
    for i in range(half):
        left = cells[i]
        right = cells[i + half] if i + half < len(cells) else ("", "")
        lines.append(
            f"| {left[0]} | {left[1]} | {right[0]} | {right[1]} |"
        )
    lines += ["", END]
    return "\n".join(lines)


def main() -> None:
    section = build_section()
    if "--write" in sys.argv:
        cov_path = os.path.join(ROOT, "COVERAGE.md")
        text = open(cov_path).read()
        if BEGIN in text and END in text:
            pre = text[: text.index(BEGIN)]
            post = text[text.index(END) + len(END):]
            text = pre + section + post
        else:
            text = text.rstrip() + "\n\n" + section + "\n"
        with open(cov_path, "w") as fh:
            fh.write(text)
        print("COVERAGE.md updated")
    else:
        print(section)


if __name__ == "__main__":
    main()
