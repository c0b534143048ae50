"""The benchmark's workloads: which registry flows run, on which inputs.

Every flow is a ``queries()`` entry of ``__spark_entry__`` called exactly as
the correctness gate calls it, so the timed code path is the verified one.
``TABLES`` lists the input tables each flow reads; their generated row
counts add up to the fixed input rows of one pass.  Why each workload was
chosen is in ``BENCHMARK.json`` and ``README.md``.

``warmup`` passes follow the cold pass and are not measured: the JIT keeps
speeding passes up for the first few passes.  ``curate``'s passes are so
long that a warm-up pass would not fit the run budget, so all its warm
passes are measured.  ``warm_passes`` is the least number of warm passes a
run then measures (more if ``--seconds`` has not passed by then); a count
fixed per workload keeps the runs comparable.
"""

from __future__ import annotations

TABLES = {
    "tpch_q13": ["customer", "orders"],
    "tpch_q18": ["lineitem", "orders", "customer"],
    "wordcount": ["documents"],
    "nary_outer_join": ["customer", "orders"],
    "bufferjoin": ["customer", "supplier"],
    "curation_flagship": ["documents"],
}

WORKLOADS = {
    "pipes": {
        "flows": ["tpch_q13", "tpch_q18", "wordcount", "nary_outer_join",
                  "bufferjoin"],
        "warmup": 2,
        "warm_passes": 6,
    },
    "curate": {
        "flows": ["curation_flagship"],
        "warmup": 0,
        "warm_passes": 3,
    },
}


def input_rows(workload: str, table_rows: dict[str, int]) -> int:
    """Rows of every table each flow reads, summed over one pass."""
    return sum(table_rows[t] for f in WORKLOADS[workload]["flows"]
               for t in TABLES[f])
