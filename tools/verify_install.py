#!/usr/bin/env python
"""Clean-environment install proof (VERDICT r10 #6): nothing so far proved a
from-scratch install works WITHOUT the repo checkout on sys.path. This
script:

  1. builds the wheel (tools/build_wheel.py, stdlib-only PEP 427);
  2. installs it into a throwaway prefix — `pip install --no-index
     --no-deps --target` when pip is available (no network needed for a
     prebuilt pure wheel), plain zip extraction otherwise (a pure-python
     wheel's install IS its extraction; RECORD/entry-point steps don't
     apply to this package);
  3. runs, in a SUBPROCESS whose cwd is outside the repo and whose
     PYTHONPATH contains ONLY the prefix, (a) the flagship registry query
     on sf0.001 and (b) a pandas-UDF registry query (uqratio fuzzy
     translation) whose worker-side callables must travel pickle-BY-VALUE
     (_serde.py) — the exact path that breaks when code accidentally
     depends on the checkout being importable on executors;
  4. asserts the package resolved FROM THE PREFIX (not the checkout) and
     prints one JSON line with the outcome (recorded in PARITY.md).

Usage: python tools/verify_install.py   (~60s, one Spark boot)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

CHILD = r"""
import json, os, sys
prefix = sys.argv[1]
# only the prefix (and stdlib/site-packages for pyspark) — the repo checkout
# must NOT be importable
# simulate a machine without the checkout: the container has a
# `setup.py develop` .pth (r10) that puts the repo on EVERY sys.path, so
# strip it before the first import rather than asserting it absent
sys.path = [p for p in sys.path if os.path.abspath(p) != __REPO_ROOT__]
import migdar_data_pipelines_spark as m
assert os.path.abspath(m.__file__).startswith(os.path.abspath(prefix)), m.__file__
from migdar_data_pipelines_spark.plans import oracle_sqls, query_fns
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .appName("verify-install")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
fns = query_fns()
n1 = fns["flagship_entity_rollup"](spark, "/root/testdata/sf0.001").count()
# pandas-UDF path: worker-side callable shipped pickle-by-value (_serde.py)
n2 = fns["uqratio_translate_nations"](spark, "/root/testdata/sf0.001").count()
assert n1 > 0 and n2 > 0, (n1, n2)
assert len(oracle_sqls()) == len(fns), (len(oracle_sqls()), len(fns))
print(json.dumps({"flagship_rows": n1, "uqratio_rows": n2,
                  "resolved": os.path.dirname(m.__file__)}))
spark.stop()
"""


def main() -> None:
    sys.path.insert(0, str(ROOT / "tools"))
    import build_wheel

    wheel = build_wheel.build()
    prefix = Path(tempfile.mkdtemp(prefix="migdar_install_"))
    mode = "pip"
    r = subprocess.run(
        [sys.executable, "-m", "pip", "install", "--no-index", "--no-deps",
         "--quiet", "--target", str(prefix), str(wheel)],
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        mode = "unzip"
        with zipfile.ZipFile(wheel) as z:
            z.extractall(prefix)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = str(prefix)
    child = CHILD.replace("__REPO_ROOT__", repr(str(ROOT)))
    out = subprocess.run(
        [sys.executable, "-c", child, str(prefix)],
        cwd=tempfile.gettempdir(), env=env, capture_output=True, text=True,
        timeout=600,
    )
    ok = out.returncode == 0
    tail = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    result = {
        "ok": ok,
        "wheel": wheel.name,
        "install_mode": mode,
        "child": json.loads(tail) if ok and tail.startswith("{") else None,
    }
    print(json.dumps(result))
    if not ok:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:] + "\n")
    shutil.rmtree(prefix, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
