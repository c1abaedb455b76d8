"""Explicit bounded-side broadcast pins (VERDICT-r8 ask #5).

Round 8 turned Spark's AQE runtime shuffle->broadcast conversion OFF
engine-wide (``session.py``: ``adaptive.autoBroadcastJoinThreshold=-1``)
because the conversion trusts compressed shuffle-byte estimates that
misplan fact-side builds at 100 TB. That closure cost four queries a
measured ~1.8 s total at sf0.1 (``gr_modularity``, ``gr_hits``,
``ts_mk_trend``, ``ag_kendall_tau``) — each of which joined a PROVABLY
BOUNDED aggregated intermediate that the runtime flip used to broadcast.

This module is the single auditable list of those per-site restores: an
explicit ``F.broadcast`` on a build side whose size bound is known from
the query's own semantics, not from a byte estimate. Two bound classes
are sanctioned here:

* **calendar-grain** — day-level aggregates of a date column; row count
  is bounded by the calendar span (~2.5k days for the TPC-H date range)
  and does NOT grow with fact-table volume. Safe at any scale.
* **node/dimension-grain** — per-node aggregated state over dimension
  keys (customers, suppliers). Grows with the DIMENSION, not the fact
  table — the same class as the engine's static parquet-sized dimension
  broadcasts, which stay enabled. At an extreme dimension cardinality
  (|V| past ~10^8) the pin should be revisited alongside the static
  dimension-broadcast threshold; the bound is stated at each call site.

Routing the hint through :func:`bounded_broadcast` (instead of a bare
``F.broadcast``) lets an A/B toggle ONLY these four restores in one
interleaved session (monkeypatch to identity; the r9 record is
``tools/ab_r9_hints_sf01.json``), and
gives the plan-gate/audit tooling one symbol to police.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bounded_broadcast(df: DataFrame) -> DataFrame:
    """``F.broadcast`` for a build side whose row-count bound is proven
    by the calling query's semantics (calendar-grain or
    node/dimension-grain — see module docstring). Call sites MUST state
    the bound in a comment."""
    return F.broadcast(df)
