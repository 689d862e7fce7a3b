"""The per-layer metrics the traced run reports, with their units.

Every layer gets the generic counters (``tracing.layer_metrics``) except
those that read zero, or the same on every run, for that layer on both
workloads: ``spill_bytes`` everywhere; ``python_s`` outside the Arrow-UDF
layers; ``rows_out`` of the request layers, fixed by each request's
``LIMIT``; the shuffle of the row count that forces ``segment`` and ``ner``
in the staged replay. The ``session`` layer keeps only its times: its one
job is the same on every run. Then come the useful-over-attempted ratios
and the named parts of a layer's spans: 126 metrics, under the 128 a
benchmark may report. The broadcast decision of ``linking`` and the
local-components decision of ``canonicalize`` are not reported: at these
input sizes the engine always broadcasts the resolved forms and always
takes the local component pass, so neither flag could move.
"""

from tracing import LAYERS

_UNITS = {
    "self_s": "s", "rows_out": "count", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
    "driver_s": "s", "straggler_ratio": "ratio", "python_s": "s",
}
_UDF_LAYERS = {"extraction", "ner", "linking"}
_FIXED_ROWS = {"snapshots", "surfaces", "sparql", "paths", "graph"}
_COUNT_SHUFFLE = {"segment", "ner"}
_SESSION = ("self_s", "executor_cpu_s", "gc_s", "driver_s")


def _generic(layer: str) -> list[str]:
    if layer == "session":
        return list(_SESSION)
    drop = set()
    if layer not in _UDF_LAYERS:
        drop.add("python_s")
    if layer in _FIXED_ROWS:
        drop.add("rows_out")
    if layer in _COUNT_SHUFFLE:
        drop.add("shuffle_write_bytes")
    return [c for c in _UNITS if c not in drop]


_EXTRA = [
    ("segment.good_ratio", "ratio"),
    ("relations.keep_ratio", "ratio"),
    ("linking.exact_ratio", "ratio"),
    ("snapshots.processed_s", "s"),
    ("snapshots.append_s", "s"),
    ("snapshots.readback_s", "s"),
    ("snapshots.files_written", "count"),
    ("snapshots.bytes_per_triple", "bytes"),
    ("snapshots.load_s", "s"),
    ("snapshots.files_read", "count"),
    ("surfaces.compile_s", "s"),
    ("surfaces.exec_s", "s"),
    ("sparql.compile_s", "s"),
    ("sparql.exec_s", "s"),
    ("paths.compile_s", "s"),
    ("paths.exec_s", "s"),
    ("graph.compile_s", "s"),
    ("graph.exec_s", "s"),
]

PER_LAYER = [
    (f"{layer}.{c}", _UNITS[c]) for layer in LAYERS for c in _generic(layer)
] + _EXTRA
