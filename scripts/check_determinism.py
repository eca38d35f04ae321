"""Cross-parallelism determinism audit for the driver contract.

Every queries() entry must produce an identical row multiset at different
core counts / shuffle-partition settings — otherwise the driver's value-hash
comparison (and any resume) is a coin flip. Catches tie-breaking bugs in
top-k, truncation-order bugs in capped LSH buckets, and float reduction-order
drift.

Usage: python scripts/check_determinism.py [sf_dir] [query ...]
(no query names: every queries() entry)
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import json

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = '''
import json, math, sys
sys.path.insert(0, "{repo}")
from events_validator_spark.session import get_spark
import __spark_entry__ as em

def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{{v:.9g}}"
    return str(v)

spark = get_spark(cores={cores}, shuffle_partitions={parts})
spark.sparkContext.setLogLevel("ERROR")
only = set({only!r})
out = {{}}
for name, fn in em.queries().items():
    if only and name not in only:
        continue
    df = fn(spark, "{sf_dir}")
    cols = sorted(df.columns)
    rows = sorted(tuple(canon(r[c]) for c in cols) for r in df.collect())
    import hashlib
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    out[name] = (len(rows), h)
print("RESULT " + json.dumps(out))
spark.stop()
'''


def run(cores: int, parts: int, sf_dir: str, only: list[str]) -> dict:
    code = _RUN.format(repo=REPO, cores=cores, parts=parts, sf_dir=sf_dir,
                       only=only)
    p = subprocess.run([sys.executable, "-c", code],
                       capture_output=True, text=True, check=True)
    line = [l for l in p.stdout.splitlines() if l.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    a = run(4, 16, sf_dir, only)
    b = run(13, 7, sf_dir, only)   # deliberately odd parallelism
    bad = {k: (a[k], b[k]) for k in a if a[k] != b.get(k)}
    for k in sorted(a):
        mark = "DIFF" if k in bad else "ok"
        print(f"[{mark:4}] {k}: {a[k]} vs {b.get(k)}")
    print(f"\n{len(bad)} nondeterministic queries: {sorted(bad)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
