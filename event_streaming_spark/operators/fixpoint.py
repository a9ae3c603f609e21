"""One driver loop for every iterative operator.

Spark has no loop construct, so a fixpoint (connected components, k-core
peeling, shortest paths, PageRank, label propagation) is a driver-side
loop over distributed rounds.  :func:`iterate` is that loop, once:

- **Pinning.**  A round's frame is pinned through
  ``operators/materialize.py`` so the next round reads a checkpoint, not
  the whole unrolled lineage (without it the plan doubles per round and
  the job dies at scale).  Rounds that observe a metric are pinned every
  round; the others every ``pin_every`` rounds, never after the last one
  (the caller pins the answer if several consumers read it, or drops it).
- **Convergence.**  A round may declare an aggregate metric; it rides the
  round's pin as an observed metric (``DataFrame.observe``), so reading
  it costs no extra Spark job.  A ``done`` predicate over the observed
  values ends the loop.
- **Exhaustion.**  ``bound`` says what ``max_rounds`` means.  ``"cap"`` is
  a safety cap on a loop that should reach its fixpoint: running out
  returns the last state, a best-effort answer, and emits
  :class:`NotConverged`.  ``"contract"`` means the round count is part
  of the answer's definition (PageRank iterations, BFS depth): reaching
  it is the normal end and stays silent.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from typing import Any, Literal, NamedTuple

from pyspark.sql import Column, DataFrame, Observation

from event_streaming_spark.operators.materialize import materialize


class NotConverged(RuntimeWarning):
    """A capped iterative operator ran out of rounds before its fixpoint."""


class Round(NamedTuple):
    """What one step hands back to :func:`iterate`.

    ``frame``: the next state.  ``metric``: aggregate column(s), each
    aliased, observed on the round's pin.  ``done``: a predicate over the
    observed values (a name → value dict); it needs a ``metric``."""

    frame: DataFrame
    metric: Column | tuple[Column, ...] | None = None
    done: Callable[[dict[str, Any]], bool] | None = None


def pin_observed(df: DataFrame, name: str, *metrics: Column) -> tuple[DataFrame, dict[str, Any]]:
    """Pin ``df`` and return it with ``metrics`` aggregated over its rows,
    both from the single pin job."""
    obs = Observation(name)
    pinned = materialize(df.observe(obs, *metrics), name)
    return pinned, obs.get


def iterate(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame, int], Round],
    *,
    max_rounds: int,
    pin_every: int = 1,
    bound: Literal["cap", "contract"],
) -> DataFrame:
    """Run ``step(state, round_index)`` until a round is done or
    ``max_rounds`` rounds have run; return the last state."""
    for rnd in range(max_rounds):
        r = step(state, rnd)
        if r.metric is not None:
            metric = r.metric if isinstance(r.metric, tuple) else (r.metric,)
            state, observed = pin_observed(r.frame, f"{name}-{rnd}", *metric)
            if r.done(observed):
                return state
        elif (rnd + 1) % pin_every == 0 and rnd + 1 < max_rounds:
            state = materialize(r.frame, f"{name}-{rnd}")
        else:
            state = r.frame
    if bound == "cap":
        warnings.warn(
            f"{name}: no fixpoint after {max_rounds} rounds; the answer is best-effort",
            NotConverged,
            stacklevel=3,
        )
    return state
