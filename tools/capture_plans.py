"""Capture .explain("formatted") for named queries into an output dir.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ... | all]

Writes <out_dir>/<query>_<suffix>.txt for each named query (default:
every bench.py headliner; ``all``: every registered query). The judge
reads these files to verify plan claims in OPTIMIZATION_r*.md, so
capture them under the same session config bench.py uses (tuned
factory, ``local[$SPARK_GRAFT_CPUS]`` — default 32 — with as many
shuffle partitions). Note explain() shows the INITIAL AQE plan
(isFinalPlan=false); claims about AQE-final shapes cite the SQL-tab
metrics or measured numbers instead.

Plans are written NORMALIZED (:func:`normalize`): what depends on the
process rather than on the plan is replaced, so a plain ``diff -r`` of
two captures (same suffix, two out dirs) shows only plan changes.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, ".")

from udacity_dend_capstone_immigration_spark.session import get_spark_session  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload import QUERIES  # noqa: E402


#: roots of the per-run dirs a plan can name: the system tempdir and the
#: stream scratch root (`streaming.windows` prefers /dev/shm)
_TMP = "|".join(re.escape(d) for d in (tempfile.gettempdir(), "/dev/shm"))
#: lists whose order follows expression ids downstream of an ``Expand``
#: (the exchange's ``hashpartitioning`` keys too)
_ID_ORDERED = re.compile(r"((?:Input|Keys|Results|Output) \[\d+\]: )\[(.*)\]")
_HASH = "Arguments: hashpartitioning("


def _split_top(s: str) -> list[str]:
    """Split ``s`` at the ", " separators outside any bracket."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and s.startswith(", ", i):
            out.append(s[start:i])
            start = i + 2
    return out + [s[start:]]


def _canonical_expand(args: str) -> tuple[str, dict]:
    """An ``Expand`` node's ``[[projection], ...], [output]`` arguments
    in a canonical order, and the renumbering of its ``gid`` values.
    Spark's multi-distinct rewrite orders the columns and numbers the
    distinct groups by expression id, which depends on what ran earlier
    in the process, not on the plan: columns are sorted by output name,
    projections by their non-gid values, and the gids renumbered in
    that order."""
    projs, outs = _split_top(args)
    rows = [_split_top(p[1:-1]) for p in _split_top(projs[1:-1])]
    cols = sorted(zip(_split_top(outs[1:-1]), *rows))
    names = [c[0] for c in cols]
    rows = [list(r) for r in list(zip(*cols))[1:]]
    renumber = {}
    if "gid#N" in names:
        g = names.index("gid#N")
        gids = sorted((r[g] for r in rows), key=int)
        rows.sort(key=lambda r: r[:g] + r[g + 1 :])
        for r, new in zip(rows, gids):
            renumber[r[g]], r[g] = new, new
    body = ", ".join("[" + ", ".join(r) + "]" for r in rows)
    return f"[{body}], [{', '.join(names)}]", renumber


#: a line of the operator tree: ``+- Name (id)`` (or the root ``Name (id)``)
_TREE = re.compile(r"([ :|]*)([+:]- )?(?:\* )?([A-Za-z][^()]*?) \((\d+)\)")
#: operators of the aggregate chain Spark's multi-distinct rewrite puts
#: above its ``Expand`` (the partial/final aggregates and their exchanges)
_AGG_CHAIN = ("HashAggregate", "ObjectHashAggregate", "SortAggregate", "Exchange", "AQEShuffleRead")


def _expand_chains(lines: list[str]) -> dict[str, str]:
    """{operator id: id of the ``Expand`` below it} for every operator
    of an ``Expand``'s aggregate chain (:data:`_AGG_CHAIN`), read off
    the operator tree: the operators whose lists follow that Expand's
    column order. Other operators, ancestors above the chain included,
    keep their lists as they are."""
    parent: dict[str, str] = {}
    name: dict[str, str] = {}
    stack: list[str] = []
    for i, line in enumerate(lines):
        m = _TREE.fullmatch(line)
        if not m:
            continue
        if m[2]:
            depth = len(m[1]) // 3 + 1
        elif i + 1 < len(lines) and re.match(r"[ :|]*[+:]- ", lines[i + 1]):
            depth = 0  # a tree's root line
        else:
            continue
        del stack[depth:]
        if stack:
            parent[m[4]] = stack[-1]
        stack.append(m[4])
        name[m[4]] = m[3].split(" ")[0]
    chains = {}
    for op, n in name.items():
        if n == "Expand":
            up = parent.get(op)
            while up is not None and name[up] in _AGG_CHAIN:
                chains[up] = op
                up = parent.get(up)
    return chains


def normalize(plan: str) -> str:
    """``plan`` without what depends on the process rather than on the
    plan: expression ids, plan ids, RDD ids, per-run temp paths and
    table-name suffixes become placeholders, and every ``Expand`` and
    the id-ordered lists of its aggregate chain (``Input``/``Keys``/
    ``Results``/``Output`` and exchange keys, :func:`_expand_chains`)
    are put in a canonical order (:func:`_canonical_expand`)."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(rf"(?:{_TMP}|<tmp>)/[^\s\],]*", "<tmp>", plan)
    plan = re.sub(r"(spark_catalog\.\w+\.\w+?)_[0-9a-f]{8}\b", r"\1_<id>", plan)
    lines = plan.split("\n")
    chains = _expand_chains(lines)
    heads = [re.fullmatch(r"\((\d+)\) (\w+).*", line) for line in lines]
    renumbers: dict[str, dict] = {}
    for i, head in enumerate(heads):
        if head and head[2] == "Expand" and i + 2 < len(lines):
            args, renumbers[head[1]] = _canonical_expand(lines[i + 2].removeprefix("Arguments: "))
            lines[i + 2] = "Arguments: " + args
    renumber = None
    for i, (line, head) in enumerate(zip(lines, heads)):
        if head:
            renumber = renumbers.get(chains.get(head[1], ""))
        elif renumber is not None:
            m = _ID_ORDERED.fullmatch(line)
            if m:
                line = m[1] + "[" + ", ".join(sorted(_split_top(m[2]))) + "]"
            elif line.startswith(_HASH):
                keys = _split_top(line[len(_HASH) :])
                n, rest = keys.pop().split(")", 1)
                line = f"{_HASH}{', '.join(sorted(keys))}, {n}){rest}"
            lines[i] = re.sub(
                r"(gid#N = )(\d+)\)", lambda g: g[1] + renumber.get(g[2], g[2]) + ")", line
            )
    return "\n".join(lines)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if names == ["all"]:
        names = sorted(QUERIES)
    elif not names:
        import bench

        names = bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark_session(
        app_name="capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = normalize(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR capturing plan: {e}"
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
