"""The one checkpoint-until-unchanged loop of the iterative operators
(connected components, watershed, Bellman-Ford, cost distance, flow
accumulation): each round eagerly ``localCheckpoint``s ``step(state)``
(one job), tests its boolean change column ``__chg`` with one
``limit(1)`` scan, drops the column, and stops at a round cap.

The ``driver=`` hook solves a small loop state on the driver instead,
through ``core.driver_solve`` (which PageRank and connected components
also call at entry). It has two users: watershed's pointer chase and
connected components' contracted graph, which an input reaches only
above the operator's own entry gate (watershed's is on the mosaic's
pixels, so a sparse mosaic above it can still chase its valid pixels
here). Cost distance gates on its pixel count at entry too, so only
its distributed sweeps run here."""

from __future__ import annotations

import logging
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame

_log = logging.getLogger("gis_tools_spark")


def fixpoint(op: str, state: DataFrame,
             step: Callable[[DataFrame], DataFrame], *,
             max_rounds: int, strict: bool = True,
             start: Callable[[DataFrame], DataFrame] | None = None,
             driver: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
             schema: str | None = None) -> tuple[DataFrame, int, bool]:
    """Iterate ``step`` until no output row has ``__chg`` set, at most
    ``max_rounds`` times; returns ``(state, rounds, converged)``. With
    ``strict``, hitting the cap raises a RuntimeError naming ``op``.

    When ``driver`` is given and ``state`` is under
    ``core.DRIVER_MAX_ROWS`` rows, ``driver`` (pandas in, pandas out)
    solves the collected state instead of the rounds, and its answer
    comes back as a broadcast-hinted frame of ``schema``. Otherwise
    ``start``, if given, first maps ``state`` to the rounds' initial
    state."""
    # imported here: operators/ imports this module at package import
    from ..operators import core

    solved = (core.driver_solve(op, state, driver, schema)
              if driver is not None else None)
    if solved is not None:
        state = solved
        path, rounds, converged = "driver", 0, True
    else:
        if start is not None:
            state = start(state)
        path, rounds, converged = "distributed", 0, False
        while rounds < max_rounds:
            nxt = step(state).localCheckpoint(eager=True)
            rounds += 1
            changed = nxt.where("__chg").limit(1).count() > 0
            state = nxt.drop("__chg")
            if not changed:
                converged = True
                break
    _log.debug("fixpoint op=%s path=%s rounds=%d converged=%s",
               op, path, rounds, converged)
    if strict and not converged:
        raise RuntimeError(f"{op} did not converge in {max_rounds} rounds")
    return state, rounds, converged
