"""Expected answers for the inventory entries, computed by DuckDB from each
entry's oracle SQL over the generated inputs — never from the program's
output.  Answers are cached next to the inputs they were computed from;
some oracles (``dedup_minhash_lsh``) take seconds, which must not fall into
a timed region or be paid twice for one seed.

Regenerate the cached answers for one workload and seed::

    python3 perfbench/oracle.py --workload curation_pipeline --seed 1
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import pickle


def sorted_rows(cols, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, so two engines' results
    compare with ``==`` whatever their column or row order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(
            "NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
            for i in idx
        )
        for r in rows
    ]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [cols[i] for i in idx], out


def compute(names, data_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from interference_spark import inventory

    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{data_dir}/{fn}'"
                )
        out = {}
        for name in names:
            res = con.execute(inventory.ORACLES[name])
            out[name] = sorted_rows([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def answers(workload: str, names, data_dir: str, refresh: bool = False):
    """Cached DuckDB answers for ``names`` over ``data_dir``; the cache is
    keyed by the oracle SQL, so an edited oracle is computed afresh."""
    from interference_spark import inventory

    key = hashlib.sha1("\0".join(inventory.ORACLES[n] for n in names).encode()).hexdigest()
    path = os.path.join(data_dir, f"answers-{workload}-{key[:12]}.pkl")
    if not refresh and os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    out = compute(names, data_dir)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(out, fh)
    os.replace(tmp, path)
    return out


def main() -> None:
    import run
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    run.prepare_env()
    wl = workloads.WORKLOADS[args.workload]
    data_dir = run.inputs(wl, args.seed)
    names = wl.oracle_entries()
    answers(args.workload, names, data_dir, refresh=True)
    print(f"{len(names)} answers written for {args.workload} seed {args.seed}")


if __name__ == "__main__":
    main()
