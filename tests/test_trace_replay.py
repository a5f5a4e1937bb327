"""The traced replay of perfbench/trace_layers.py describes the kernel.

perfbench's traced run (`run.py --trace 1`) fails when its traced copy
of `route_batch` (`traced_route`) and the kernel itself
(`untraced_route`: `route_batch` plus `assemble_record_batch` for struct
output) disagree. That copy rebuilds `RoutedBatch` positionally from the
`core` functions it imports, so a change to `RoutedBatch`'s fields or to
what the emit expects of them breaks the benchmark, not the kernel. This
runs both on fixture batches, without Spark. `perfbench/` is imported
as it is, never edited.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pyarrow as pa
import pytest

from pdftext_spark.sources.fixtures import generate_transcripts

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture(scope="module")
def trace_layers():
    sys.path.insert(0, PERFBENCH)
    try:
        import trace_layers
        yield trace_layers
    finally:
        sys.path.remove(PERFBENCH)


@pytest.mark.parametrize("workload", ["plain_mix", "struct_links"])
def test_traced_route_equals_kernel(trace_layers, workload):
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdftext_spark.operators.schema import EXTRACTED

    target = to_arrow_schema(EXTRACTED)
    rows = [r for r, _ in generate_transcripts(150, 60, seed=301)]
    cols = trace_layers.kernel_columns(workload)
    table = pa.table({c: pa.array([r[c] for r in rows], target.field(c).type)
                      for c in cols})
    batches = table.to_batches(max_chunksize=200)
    assert len(batches) > 1
    cfg = trace_layers.kernel_config(workload)
    struct = workload == "struct_links"
    out_target = target if struct else None
    seen = Counter()
    for bid, batch in enumerate(batches):
        rb_t, out_t = trace_layers.traced_route(
            trace_layers.Tracer(), Counter(), bid, batch, cfg, out_target)
        rb_u, out_u = trace_layers.untraced_route(batch, cfg, out_target)
        assert (trace_layers.turn_results(rb_t, batch)
                == trace_layers.turn_results(rb_u, batch))
        if struct:
            assert out_t.equals(out_u)
        else:
            assert out_t is None and out_u is None
        seen.update(doc=len(rb_u.doc_pos), links=len(rb_u.regs_by_local),
                    tables=len(rb_u.tables_by_local))
    assert seen["doc"] > 0
    if struct:  # the emit's link_dests and tables columns are exercised
        assert seen["links"] > 0 and seen["tables"] > 0, seen
