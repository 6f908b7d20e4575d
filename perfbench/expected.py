"""Stored oracle answers for the library workload's ANN requests.

    python3 perfbench/expected.py      # rewrites perfbench/data/q335_expected.json

The ANN requests walk the graph built over the fixed embeddings table in
perfbench/data (a copy of the sf0.1 table). q335's DuckDB oracle answers
every query the requests draw from (``vec_id % 50 = 0``), but it unrolls
the whole graph build and walk in SQL and takes about 20 s on 4 cores,
a third of a run. Its rows for this table are stored instead, and each
request is compared with them; ``test_counts.py`` checks that the stored
rows still equal the oracle's.
"""

from __future__ import annotations

import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH_DIR, "data")
EXPECTED = os.path.join(DATA, "q335_expected.json")


def oracle_answers(data_dir: str = DATA) -> dict[str, list[list[int]]]:
    """q335's oracle rows as ``{q_id: sorted [[vec_id, dist_sq], ...]}``."""
    sys.path.insert(0, os.path.dirname(BENCH_DIR))
    from rdkafka_streams_spark.queries import REGISTRY
    from rdkafka_streams_spark.testing import duck_con

    con = duck_con(data_dir, tables=("embeddings",))
    rows = con.execute(REGISTRY["q335_beam_search_graph_ann"].oracle).fetchall()
    con.close()
    out: dict[str, list[list[int]]] = {}
    for q_id, vec_id, dist_sq in rows:
        out.setdefault(str(int(q_id)), []).append([int(vec_id), int(dist_sq)])
    return {q: sorted(v) for q, v in sorted(out.items(), key=lambda kv: int(kv[0]))}


if __name__ == "__main__":
    answers = oracle_answers()
    with open(EXPECTED, "w") as f:  # one query a line
        f.write("{\n" + ",\n".join(f"{json.dumps(q)}: {json.dumps(v)}"
                                    for q, v in answers.items()) + "\n}\n")
    print(f"wrote {EXPECTED}")
