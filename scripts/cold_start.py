"""Cold-start cost of a new driver: the session build and each path's first query.

Each path runs in its own fresh process, so its first query pays every
one-time parse, analyzer, JIT and codegen cost it needs and no other path
has paid them first. Per path it prints the ``get_spark`` wall (with the
import of the session module) and the first and second walls of one query,
rebuilt from the DataFrame API each time:

- typed: ``explode_violations(validate_typed(interleaved_docs(spark, 2000),
  DOC_RULES), ["doc_id"]).count()``
- json: ``validate_json`` of a 3-key rule (a regex, an enum, a nested array)
  over 100 JSON rows, collected

Each process runs on 4 cores with a 3 GB heap, perfbench's heap. The walls
are information for sizing, not a benchmark: one process varies from the
next, so compare several runs per side.

Usage: python scripts/cold_start.py [CHECKOUT]
(CHECKOUT defaults to this repository; run it against a second checkout to
compare two versions of the engine.)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = '''
import json, sys, time
sys.path.insert(0, {repo!r})
t = time.perf_counter()
from events_validator_spark.session import get_spark
spark = get_spark(cores=4, shuffle_partitions=4,
                  extra_conf={{"spark.driver.memory": "3g"}})
walls = [time.perf_counter() - t]
spark.sparkContext.setLogLevel("ERROR")
from events_validator_spark.operators.validation import (
    explode_violations, validate_json, validate_typed)
from events_validator_spark.sources.synthetic import DOC_RULES, interleaved_docs

JSON_RULES = {{
    "id": {{"type": "string", "regex": "^u[0-9]+$"}},
    "kind": {{"type": "string", "enum": ["a", "b"]}},
    "items": {{"type": "array", "nestedSchema": {{
        "sku": {{"type": "string"}}, "qty": {{"type": "number"}}}}}},
}}


def typed():
    return explode_violations(validate_typed(interleaved_docs(spark, 2000),
                                             DOC_RULES), ["doc_id"]).count()


def json_path():
    df = spark.range(100).selectExpr(
        "to_json(named_struct('id', concat('u', id), "
        "'kind', IF(id % 7 = 0, 'c', 'a'), "
        "'items', array(named_struct('sku', concat('s', id), "
        "'qty', id % 3)))) AS props")
    return len(validate_json(df, JSON_RULES, "props").collect())


query = {{"typed": typed, "json": json_path}}[{path!r}]
for _ in range(2):
    t = time.perf_counter()
    query()
    walls.append(time.perf_counter() - t)
print("RESULT " + json.dumps(walls))
spark.stop()
'''


def run(repo: str, path: str) -> list[float]:
    code = _RUN.format(repo=repo, path=path)
    p = subprocess.run([sys.executable, "-c", code], cwd=repo,
                       capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("RESULT ")]
    if p.returncode or not lines:
        sys.exit(f"{path} run failed:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1][len("RESULT "):])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("checkout", nargs="?", default=REPO)
    repo = os.path.abspath(ap.parse_args().checkout)
    for path in ("typed", "json"):
        setup, first, second = run(repo, path)
        print(f"{path:5} get_spark={setup:.2f}s first={first:.2f}s "
              f"second={second:.2f}s")


if __name__ == "__main__":
    main()
