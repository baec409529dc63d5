"""Regenerate the COVERAGE.md driver-verification ledger: for every
registered query, the first round whose committed CORRECTNESS_r*.json
carries a GREEN driver row (rows+schema+hash all passing, or the weaker
rows-only pass for non-SQL-expressible ops), `red` when the driver has
checked the name but never seen it pass, or `never` when the driver has
not yet sampled it. Run from the repo root; prints the markdown
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


def _row_green(row: object) -> bool:
    """A driver row counts as confirmation only when every comparison the
    harness ran actually PASSED. ``hash_match`` may be None for the weaker
    rows-only check (non-SQL-expressible ops) — that still counts — but a
    red/None rows_match, schema mismatch, or any ``err`` (e.g. the r05
    ``no_oracle`` row for ext_bpe_tokenize) does not."""
    if not isinstance(row, dict):
        return False
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
        and not row.get("err")
    )


def driver_rounds(root: str = ROOT) -> tuple[dict[str, int], dict[str, list[int]]]:
    """(first green round, rounds checked) per name, from the committed
    CORRECTNESS_r*.json files under ``root``. A malformed file prints one
    named line on stderr and the ledger goes on without its rows."""
    first_green: dict[str, int] = {}
    checked_rounds: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
            if not isinstance(data, dict):
                raise ValueError("not a JSON object")
        except (OSError, ValueError) as exc:
            print(f"REGISTRY-CORRECTNESS-SKIPPED: {path}: {exc}", file=sys.stderr)
            continue
        for name, row in data.items():
            checked_rounds.setdefault(name, []).append(rnd)
            if _row_green(row) and (
                name not in first_green or rnd < first_green[name]
            ):
                first_green[name] = rnd
    return first_green, checked_rounds


def build_section() -> str:
    from cdc_debezium_kafka_airflow_spark.queries.registry import get_queries

    first_green, checked_rounds = driver_rounds()
    names = sorted(get_queries())
    n_green = sum(1 for n in names if n in first_green)
    n_red = sum(
        1 for n in names if n in checked_rounds and n not in first_green
    )
    n_never = len(names) - n_green - n_red
    lines = [
        BEGIN,
        "",
        "## Driver-verification ledger (per name, regenerated per round)",
        "",
        f"Registry: **{len(names)}** queries. Driver-green (>=1 green row in "
        f"a committed CORRECTNESS_r*.json): **{n_green}**. Driver-checked "
        f"but never green (`red`): **{n_red}**. Never driver-sampled: "
        f"**{n_never}**. Every name passes the local "
        "`tools/check_oracles.py` gate and pytest; the driver rotation "
        "(queries/registry.py) rings through every name outside its "
        "sentinel spine, one offset per round.",
        "",
        "| query | first green | query | first green |",
        "|---|---|---|---|",
    ]

    def state(n: str) -> str:
        if n in first_green:
            return f"r{first_green[n]:02d}"
        return "red" if n in checked_rounds else "never"

    cells = [(n, state(n)) for n in names]
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
