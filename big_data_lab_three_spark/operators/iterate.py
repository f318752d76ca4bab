"""The one driver for the engine's iterative Spark loops (k-core peel,
Lloyd k-means, both connected-components loops, PageRank).  Tokenizer
training is not one of them: the BPE merge rounds and the unigram-LM EM
rounds run inside one grouped-map task over the vocabulary
(``queries/corpus._bpe_train`` and ``_ulm_train``).

:class:`Rounds` owns the per-round policy they share:

- :meth:`Rounds.checkpoint` takes a LAZY ``localCheckpoint`` of a
  round's state: the logical plan never compounds across rounds
  (Catalyst would re-analyze the whole unrolled lineage every round),
  and the materialization rides the round's next action instead of a
  job of its own;
- a loop that must reach a fixpoint raises ``RuntimeError`` when its
  round cap runs out — the state it stopped at would be silently wrong;
- every job a round launches is described ``"<loop> round <r>"``; the
  caller's description comes back afterwards and the job group is never
  touched, so a caller's ``setJobGroup`` still covers the loop;
- superseded rounds are released.  A round reads only the round before
  it and frames made before the loop, and its convergence test runs
  inside it, so at each round boundary, and when the loop ends, every
  checkpoint older than the newest fully materialized round is
  unpersisted.  A checkpoint is the frame's own RDD, never a
  ``getPersistentRDDs()`` diff that could free another thread's data.
  Reading a released checkpoint raises; it never recomputes wrong rows.
  Rounds no action inside the loop materializes (k-means, PageRank)
  stay persisted for the caller to free.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


class Rounds:
    """``for r in Rounds(spark, "pagerank", 3):`` runs rounds 1..cap.

    With ``unconverged`` given, the loop must ``break`` at its fixpoint:
    running out of rounds raises ``RuntimeError`` with that advice.
    Checkpoints taken before iterating belong to round 0."""

    def __init__(
        self,
        spark: SparkSession,
        loop: str,
        cap: int,
        unconverged: str | None = None,
    ):
        self._sc = spark.sparkContext
        self._loop, self._cap, self._unconverged = loop, cap, unconverged
        self._round = 0
        self._held: list[tuple[int, object]] = []  # (round, JVM RDD)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df`` lazily checkpointed as the current round's state."""
        out = df.localCheckpoint(eager=False)
        plan = out._jdf.queryExecution().logical()
        # plan tests stub localCheckpoint out: then there is no RDD
        if plan.getClass().getSimpleName() == "LogicalRDD":
            self._held.append((self._round, plan.rdd()))
        return out

    def __iter__(self) -> Iterator[int]:
        caller = self._sc.getLocalProperty("spark.job.description")
        try:
            for r in range(1, self._cap + 1):
                self._release()
                self._round = r
                self._sc.setJobDescription(f"{self._loop} round {r}")
                yield r
            if self._unconverged is not None:
                raise RuntimeError(
                    f"{self._loop} did not converge in {self._cap} "
                    f"rounds; {self._unconverged}"
                )
        finally:  # also on the caller's `break`, which closes the generator
            self._release()
            self._sc.setJobDescription(caller)

    def _release(self) -> None:
        pending = {r for r, rdd in self._held if not rdd.isCheckpointed()}
        done = [r for r, _ in self._held if r not in pending]
        if done:
            newest = max(done)
            for r, rdd in self._held:
                if r < newest:
                    rdd.unpersist(False)
            self._held = [h for h in self._held if h[0] >= newest]
