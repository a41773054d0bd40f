"""The one cache lifecycle every operator uses.

Rule: a frame that stays cached after an operator returns is registered
only through ``operator_scope`` —
``with operator_scope(spark, owner, conf) as s: x = s.keep(df)`` — or
through ``keep_result(owner, df)``, which is built on it. (A cache the
operator itself unpersists before returning stays a local try/finally.)
Entering the scope unpersists the frames ``owner`` registered on its
previous invocation, and only those: a fresh invocation recomputes from
parquet, one operator never drops another's returned frame, and repeated
runs don't accumulate storage. A registered frame stays cached until its
owner's next invocation.

``keep`` works only inside the scope. ``persist()`` compiles the cached
physical plan when it is registered, so every cached plan compiles under
the scope's conf: a registration made before the conf scope opened baked
the session's 200-partition exchanges into the graph iterations (r16).
If the body raises, the scope unpersists what it registered.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from apache_iceberg_demo_spark.tuning import scoped_conf

#: frames registered per owner, released when that owner's next scope opens
_live: dict[str, list[DataFrame]] = {}


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        # the frame's SparkSession was stopped (session-restart consumers,
        # e.g. tools/determinism_probe.py): its cached blocks died with the
        # session — nothing to release
        pass


def release(owner: str) -> None:
    """Unpersist and forget every frame ``owner`` registered."""
    for df in _live.pop(owner, []):
        _unpersist(df)


class OperatorScope:
    """Handle yielded by :func:`operator_scope`; registers frames for its owner."""

    def __init__(self, owner: str) -> None:
        self.owner = owner
        self._frames: list[DataFrame] | None = _live.setdefault(owner, [])

    def keep(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and register it under the scope's owner."""
        if self._frames is None:
            raise RuntimeError(
                f"{self.owner}: keep() called after its operator scope exited"
            )
        df = df.persist()
        self._frames.append(df)
        return df


@contextmanager
def operator_scope(
    spark: SparkSession, owner: str, conf: dict[str, str] | None = None
) -> Iterator[OperatorScope]:
    """Release ``owner``'s previous frames, then open ``conf`` (if any) for
    the body; see the module docstring for the lifecycle rule."""
    release(owner)
    scope = OperatorScope(owner)
    try:
        with scoped_conf(spark, conf or {}):
            yield scope
    except BaseException:
        release(owner)
        raise
    finally:
        scope._frames = None


def keep_result(owner: str, df: DataFrame) -> DataFrame:
    """Persist and materialize a returned frame so the driver's
    count()-then-collect() runs its pipeline once; released on ``owner``'s
    next invocation."""
    with operator_scope(df.sparkSession, owner) as s:
        df = s.keep(df)
        df.count()
    return df
