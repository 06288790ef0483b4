"""The reference's concurrent scatter-gather query API, re-expressed as joins.

Reference surface (``eda_query.py:158-231``): ``Queryedc`` / ``Queryteg``
expose ``glass_history`` / ``glass_data`` / ``glass_raw_data(glass_id,
subquery)`` — given a list of glass IDs, fan point-lookups out across a
200-thread pool (stage 1: history per glass, ``eda_query.py:50-72``), flatten
(``chain.from_iterable``, :170,187), then fan out again per (glass, step,
start_time) over a 50-process pool (stage 2, :74-99), finally hash-joining the
dict results client-side (``_bind_parm``, :200-214).

Spark collapses the whole machinery into declarative joins:

* stage-1 fan-out        → one ``left_semi`` join of the history against the
  broadcast keys;
* flatten + stage-2      → the join's output *is* the flattened link set,
  broadcast into a second ``left_semi`` join against the result fact;
* ``_bind_parm``'s dict-join + non-empty filter → ``left_semi`` against the
  params-present summary (J7);
* ``subquery=True`` vs per-key point queries (the repo's namesake
  experiment) → the SAME logical plan: Catalyst rewrites ``IN (subquery)``
  to a left-semi join (``RewritePredicateSubquery``) and picks broadcast vs
  shuffle from stats, so both reference modes compile to one physical
  strategy chosen by the optimizer, not by the caller.

Neither build side is deduplicated. A left-semi join emits each probe row
at most once whatever duplicates its build side holds, so a ``distinct()``
there changes no result and costs a hash shuffle and one more job per
request. Both build sides are broadcast explicitly: the keys are the
caller's list and the links are the history rows of those keys, so both are
bounded by the request, and without a shuffle in front of them AQE has no
runtime size to pick a broadcast from.

Parallelism is partition-level and automatic; per-task failure isolation
replaces the reference's per-future exception swallowing (:66-68).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_async_sample_spark.api.validate import checked


@dataclass
class KeyedQuery:
    """Distributed equivalent of ``Queryteg``/``Queryedc``.

    ``history``  — the per-key history fact (reference: glass history views,
    ``dbs/auto.py:24-33,65-82``); ``result`` — the raw result fact
    (``dbs/auto.py:133-157``); ``summary`` — the params-present summary used
    as the existence filter (``ARRAY_GLASS_SUMMARY_V``, ``dbs/auto.py:188-200``).
    """

    history: DataFrame
    result: DataFrame
    key_col: str
    link_cols: list[str]  # history→result join keys (glass, step, start_time analog)

    @checked
    def glass_history(self, keys: DataFrame) -> DataFrame:
        """Stage-1 fan-out: all history rows for the key list — one semi-join
        against the broadcast keys instead of len(keys) point queries on a
        thread pool. A key listed twice still yields each history row once
        (semi-join), so the keys are not deduplicated. Arguments are
        runtime-validated like the reference's ``@checktypes`` entry points
        (``eda_query.py:163-165``)."""
        return self.history.join(F.broadcast(keys.select(self.key_col)), self.key_col, "left_semi")

    @checked
    def glass_raw_data(
        self,
        keys: DataFrame,
        summary: DataFrame | None = None,
        subquery: bool = True,  # kept for reference API parity; plan-identical
    ) -> DataFrame:
        """Raw results for every (key, link) the history yields, optionally
        existence-filtered by ``summary`` (J5/J7). ``subquery`` is accepted
        for signature parity with the reference — both modes were different
        physical strategies for the same semantics, a choice Catalyst now
        makes; the returned plan is identical. The link set is broadcast
        as is: it is bounded by the keys' history rows, and a link the
        history repeats still returns each result row once (semi-join)."""
        links = F.broadcast(self.glass_history(keys).select(*self.link_cols))
        out = self.result.join(links, self.link_cols, "left_semi")
        if summary is not None:
            out = out.join(summary, self.link_cols, "left_semi")
        return out
