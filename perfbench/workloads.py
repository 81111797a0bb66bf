"""Workload registry and the per-layer metric list every traced run
reports. A span the workload does not run is entered once, empty: its
wall_s is the tracer's own cost and its counters are 0. A ratio the
workload does not produce reads 0."""

from __future__ import annotations

from . import common
from .caption_curate import CaptionCurate
from .tile_geocode_serve import TileGeocodeServe

WORKLOADS = {w.name: w for w in (TileGeocodeServe, CaptionCurate)}

SPANS = (
    "sources.scan",
    "cells.assign",
    "spatial_join.candidates",
    "spatial_join.join",
    "tiling.write",
    "knn.k5",
    "build_pipeline.places",
    "build_pipeline.index_tables",
    "api.load",
    "api.search",
    "api.reverse_geocode",
    "curate_text.clean",
    "curate_text.quality",
    "curate_text.dedup",
    "curate_text.spans",
    "curate_text.decontaminate",
    "curate_text.mix_pack",
    "curate_text.curate_text",
    "lineage.resume",
)
RATIOS = (
    "spatial_join.keep_ratio",
    "tiling.read_amplification",
    "curate_text.clean.keep_ratio",
    "curate_text.quality.keep_ratio",
    "curate_text.dedup.keep_ratio",
    "curate_text.spans.keep_ratio",
    "curate_text.decontaminate.keep_ratio",
    "curate_text.mix_pack.keep_ratio",
)
UNITS = {"wall_s": "s", "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB",
         "python_mb": "MB"}


def enter_unrun_spans(tracer) -> None:
    for span in SPANS:
        if span not in tracer.invocations:
            with tracer.span(span):
                pass


def per_layer_metrics(wl, per_span: dict, ratios: dict, overhead_s: float) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    out = {}
    for span in SPANS:
        for c in common.COUNTERS:
            out[f"{span}.{c}"] = (per_span[span][c], UNITS[c])
    got = wl.ratios(per_span, ratios)
    for r in RATIOS:
        out[r] = (got.get(r, 0.0), "ratio")
    out["trace_overhead_s"] = (overhead_s, "s")
    return out
