"""Dev loop: run every registered query against the DuckDB oracle.

Usage: python scripts/check_oracle.py [--strict] [--vanilla]
           [--changed-since <rev>] [sf_dir] [name_filter...]

``--changed-since <rev>`` restricts the sweep to queries whose DEFINING
module (the file holding the registered fn) changed vs the given git rev —
the dev-loop fast path now that the full strict x3-SF sweep costs ~65 min
(r10 verdict ask #7). The full unfiltered sweep remains the round-close
bar; this flag is for iterating. Helper-module edits (oracle.py,
session.py, tables.py, operators/* imported by query modules) fall back to
the FULL sweep because the dependency graph isn't tracked — only a
changed-file set that is entirely query-defining modules narrows the run.

``--strict`` reproduces the driver's tolerance-free value hash (float repr
equality instead of rel_tol=1e-6) — run the full corpus in strict mode at
sf0.01 AND sf0.1 at least once per round to flush round(float) last-digit
ties before the driver samples them.

``--vanilla`` runs under a PLAIN SparkSession (no solspark config profile,
no Arrow toggle) — the driver-simulation mode that catches
config-dependent output bugs (Arrow list rendering, nanos-timestamp
fallback). The round-8 session-B vanilla sweep covered all 545 queries
with 0 failures; keep that cadence once per round.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from sol_spark.oracle import compare
from sol_spark.registry import all_queries
from sol_spark.session import get_session


def _changed_query_names(rev: str, specs) -> set[str] | None:
    """Names whose defining module changed vs ``rev``, or None for
    'run everything' (a non-query file changed, or git failed)."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", rev, "--"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout
    except subprocess.CalledProcessError as e:
        print(f"--changed-since: git diff failed ({e.stderr.strip()}); running full sweep")
        return None
    changed = {ln.strip() for ln in out.splitlines() if ln.strip().endswith(".py")}
    by_module: dict[str, set[str]] = {}
    for name, spec in specs.items():
        mod = sys.modules.get(spec.fn.__module__)
        mod_file = getattr(mod, "__file__", None)
        if mod_file:
            rel = os.path.relpath(os.path.abspath(mod_file), repo)
            by_module.setdefault(rel, set()).add(name)
    non_query = changed - set(by_module) - {"scripts/check_oracle.py"}
    if non_query:
        print(f"--changed-since: non-query files changed ({sorted(non_query)[:5]}...); running full sweep")
        return None
    names: set[str] = set()
    for rel in changed & set(by_module):
        names |= by_module[rel]
    return names


def main() -> int:
    raw = sys.argv[1:]
    changed_rev = None
    if "--changed-since" in raw:
        i = raw.index("--changed-since")
        changed_rev = raw[i + 1]
        raw = raw[:i] + raw[i + 2:]
    argv = [a for a in raw if a not in ("--strict", "--vanilla")]
    exact = "--strict" in raw
    vanilla = "--vanilla" in raw
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    name_filters = argv[1:]
    if vanilla:
        from pyspark.sql import SparkSession

        # getActiveSession() is thread-local; a session created on another
        # thread (registered only process-wide) would still be reused by
        # getOrCreate() — check the process-wide slot too (pyspark has no
        # public getDefaultSession; _instantiatedSession is that slot).
        # The attribute is private: if a pyspark upgrade renames it, a
        # getattr default would silently degrade this back to
        # thread-local-only — fail loud instead.
        if not hasattr(SparkSession, "_instantiatedSession"):
            raise RuntimeError(
                "pyspark removed/renamed SparkSession._instantiatedSession; "
                "update the --vanilla cross-thread session guard"
            )
        default = SparkSession._instantiatedSession
        if SparkSession.getActiveSession() is not None or default is not None:
            # getOrCreate() would silently return the pre-existing
            # (solspark-configured) session, defeating the plain-session
            # driver simulation — fail loud instead.
            raise RuntimeError(
                "--vanilla requires a fresh process: a SparkSession is "
                "already active/default and getOrCreate() would reuse its config"
            )
        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_session("check_oracle")
    specs = all_queries()
    changed_names: set[str] | None = None
    if changed_rev is not None:
        changed_names = _changed_query_names(changed_rev, specs)
        if changed_names is not None:
            print(f"--changed-since {changed_rev}: {len(changed_names)} queries selected")
    failures = []
    checked = 0
    for name, spec in sorted(specs.items()):
        if name_filters and not any(f in name for f in name_filters):
            continue
        if changed_names is not None and name not in changed_names:
            continue
        checked += 1
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                print(f"  {name:35s} rows-only: {n} rows [{time.time()-t0:.1f}s]")
                continue
            ok, msg = compare(df, spec.oracle, sf_dir, exact=exact)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {str(e)[:300]}"
        status = "PASS" if ok else "FAIL"
        print(f"  {name:35s} {status}: {msg} [{time.time()-t0:.1f}s]")
        if not ok:
            failures.append((name, msg))
    print(f"\n{len(failures)} failures / {checked} queries")
    for name, msg in failures:
        print(f"  FAIL {name}: {msg[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
