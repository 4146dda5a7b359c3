"""Result-equivalence harness for the optimization round.

  python tools/verify_equiv.py save <snapshot_dir> [sf_dir] [q1 q2 ...]
      collect each query's full result (sorted rows + schema) and pickle
      it under <snapshot_dir>/, one file per query
  python tools/verify_equiv.py check <snapshot_dir> [sf_dir] [q1 q2 ...]
      re-run and compare against the saved snapshot; prints PASS/FAIL per
      query with the first differing row.

The queries are those of the checkout this file sits in.  To snapshot
another revision, run that revision's copy of this file (or copy this
file into its tools/ directory).  Spark runs ``local[$SPARK_GRAFT_CPUS]``,
or one thread per host core when the variable is unset.

Rows are compared exactly (no float rounding): an optimization must be
bit-identical, not merely close.
"""

from __future__ import annotations

import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_session():
    """The session both ``save`` and ``check`` run in: AQE off and 8 MB
    input splits, so the plans do not vary with runtime statistics."""
    from sqllog_analysis_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    return get_spark(
        "verify_equiv",
        cores=cpus,
        shuffle_partitions=max(8, cpus),
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": "8m",
        },
    )


def snap(df):
    rows = [tuple(r) for r in df.collect()]
    rows.sort(key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t))
    return {"schema": df.schema.jsonValue(), "rows": rows}


def main() -> None:
    cmd, d = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:]

    import __spark_entry__ as entry

    spark = get_session()
    qs = entry.queries()
    names = names or list(qs)
    os.makedirs(d, exist_ok=True)

    failures = []
    for name in names:
        s = snap(qs[name](spark, sf_dir))
        p = os.path.join(d, f"{name}.pkl")
        if cmd == "save":
            with open(p, "wb") as f:
                pickle.dump(s, f)
            print(f"saved {name} ({len(s['rows'])} rows)", flush=True)
        else:
            with open(p, "rb") as f:
                ref = pickle.load(f)
            ok = ref == s
            if not ok:
                failures.append(name)
                detail = ""
                if ref["schema"] != s["schema"]:
                    detail = "SCHEMA DIFF"
                else:
                    for a, b in zip(ref["rows"], s["rows"]):
                        if a != b:
                            detail = f"first diff: {a!r} != {b!r}"
                            break
                    else:
                        detail = f"row count {len(ref['rows'])} != {len(s['rows'])}"
                print(f"FAIL {name}: {detail}", flush=True)
            else:
                print(f"PASS {name} ({len(s['rows'])} rows)", flush=True)
    if cmd == "check":
        print("FAILURES:", failures if failures else "none")
        sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
