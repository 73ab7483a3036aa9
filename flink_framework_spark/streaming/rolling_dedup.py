"""Streaming rolling-ingest near-dedup: the crawl-ingest pipeline as
an actual stream.

The batch operator ``dedup.incremental_dedup_ngram`` already has the
right per-round shape (new-batch-vs-corpus blocking join, never
corpus x corpus); this module runs it under Structured Streaming's
``foreachBatch``, turning a document stream into an append-only
deduplicated corpus lake:

- each micro-batch is deduplicated against the ACCUMULATED surviving
  corpus (keep-earliest, append-stable — the same contract the
  batch-fold test ``test_rolling_ingest_incremental_dedup_invariant``
  pins), then appended;
- the sink is IDEMPOTENT by micro-batch id: survivors land in a
  ``batch=<id>`` partition directory written with overwrite, so a
  retried batch (checkpoint recovery replays the last uncommitted
  micro-batch) rewrites its own partition instead of duplicating it —
  checkpoint + idempotent sink is exactly Structured Streaming's
  recipe for end-to-end exactly-once on file sinks;
- corpus reads use partition discovery over the same directory, so
  the accumulated state IS the lake table a downstream trainer reads
  — no second bookkeeping store. At warehouse scale the corpus side
  of the blocking join grows, but the per-round cost stays
  |new| x bucket-occupancy because candidate generation is an
  equi-join on the blocking key with the NEW side always the small
  probe (see incremental_dedup_ngram).

Equivalence to the batch fold is proven in tests/test_rolling_dedup.py:
streaming the corpus in N files through this processor yields exactly
the batch-sequential loop's surviving doc set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.staging import release, stage


class RollingDedupProcessor:
    """``foreachBatch`` handler accumulating a deduplicated corpus.

    Parameters
    ----------
    corpus_path : directory of the surviving-corpus lake
        (``batch=<id>`` partition per micro-batch).
    threshold : exact-Jaccard drop threshold (>= threshold = near-dup
        of an earlier survivor -> dropped) for the default text dedup.
    id_col / text_col : document schema in the stream (default mode).
    dedup_fn : optional ``f(new_df, corpus_df) -> surviving new rows``
        replacing the default ``incremental_dedup_ngram`` — any
        incremental dedup with the same new-vs-corpus contract plugs
        in (e.g. ``semantic_dedup_incremental`` over embeddings; see
        tests/test_rolling_dedup.py). With ``dedup_fn``, ``cols``
        names the payload columns to persist per survivor.
    signature_path : optional directory for a SIGNATURE lake
        maintained alongside the corpus (same ``batch=<id>``
        idempotent layout): each batch's surviving min-shingle rows
        are appended, and subsequent batches dedup against THESE
        fixed-width hash rows instead of re-tokenizing the
        accumulated corpus text — without this, every round pays an
        O(corpus) tokenize pass, which at 100 TB dwarfs the
        |new|-sized blocking join. Text mode only (default
        ``dedup_fn``).
    """

    def __init__(
        self,
        corpus_path: str,
        threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        dedup_fn=None,
        cols: list[str] | None = None,
        signature_path: str | None = None,
    ):
        if dedup_fn is not None and signature_path is not None:
            raise ValueError(
                "signature_path applies to the built-in text dedup only"
            )
        # partition discovery (_partitions) walks the lake with
        # os.listdir — on a remote URI (hdfs://, s3a://, ...) that
        # silently returns {} and every batch would dedup against an
        # "empty" corpus, disabling dedup without any error; refuse
        # loudly until listing is routed through the Hadoop FileSystem
        for label, p in (
            ("corpus_path", corpus_path),
            ("signature_path", signature_path),
        ):
            if p is not None and "://" in p:
                raise ValueError(
                    f"{label}={p!r}: RollingDedupProcessor's partition "
                    "discovery is local-filesystem only (os.listdir); a "
                    "URI-scheme lake would be seen as empty and dedup "
                    "silently skipped. Use a local path, or extend "
                    "_partitions/_write_partition to the Hadoop "
                    "FileSystem API for remote storage."
                )
        self.corpus_path = corpus_path
        self.threshold = threshold
        self.id_col = id_col
        self.text_col = text_col
        self.dedup_fn = dedup_fn
        self.cols = cols or [id_col, text_col]
        self.signature_path = signature_path

    def _read_lake(
        self, spark, path: str, exclude_batch: int
    ) -> DataFrame | None:
        """Accumulated rows EXCLUDING ``exclude_batch``'s own
        partition: a replayed micro-batch (checkpoint recovery) must
        not dedup against its previous, about-to-be-rewritten output.

        Only the genuinely-empty states map to None (directory absent,
        no batch= partitions, or only TORN partitions — an
        uncommitted write left by a crash, which the replay's own
        overwrite is about to repair); a real read error MUST
        propagate and fail the micro-batch — swallowing it would
        silently skip dedup for the whole batch and commit the
        checkpoint past it."""
        parts = [
            os.path.join(path, e)
            for e, state in self._partitions(path).items()
            if state == "data" and e != f"batch={exclude_batch}"
        ]
        if not parts:
            return None
        # explicit committed-partition paths: a torn batch= dir (only
        # _temporary/_SUCCESS inside, no data files) would make a
        # whole-directory read raise on EVERY replay, wedging recovery
        # before the overwrite that repairs it
        df = spark.read.option("basePath", path).parquet(*parts)
        return df.drop("batch")

    # committed zero-row writes leave NO data files (Spark skips empty
    # files), which is indistinguishable from a torn write — so every
    # empty partition this processor commits gets an explicit marker
    _EMPTY_MARKER = "_EMPTY"

    @classmethod
    def _partitions(cls, path: str) -> dict[str, str]:
        """State of every batch= partition under ``path``:
        ``data`` (committed rows), ``empty`` (committed, zero rows —
        carries the _EMPTY marker), or ``torn`` (uncommitted crash
        residue: neither data files nor the marker)."""
        out: dict[str, str] = {}
        if not os.path.isdir(path):
            return out
        for e in sorted(os.listdir(path)):
            full = os.path.join(path, e)
            if not e.startswith("batch=") or not os.path.isdir(full):
                continue
            files = os.listdir(full)
            if any(not f.startswith(("_", ".")) for f in files):
                out[e] = "data"
            elif cls._EMPTY_MARKER in files:
                out[e] = "empty"
            else:
                out[e] = "torn"
        return out

    @classmethod
    def _write_partition(cls, df: DataFrame, part_dir: str) -> None:
        """Idempotent overwrite of one batch= partition, committing
        zero-row outputs with the explicit marker."""
        df.write.mode("overwrite").parquet(part_dir)
        if not any(
            not f.startswith(("_", ".")) for f in os.listdir(part_dir)
        ):
            open(os.path.join(part_dir, cls._EMPTY_MARKER), "w").close()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from flink_framework_spark.operators.dedup import (
            incremental_dedup_ngram,
            min_shingle_frame,
        )

        spark = batch_df.sparkSession
        bid = int(batch_id)
        new = batch_df.select(*self.cols)
        if self.signature_path is not None:
            self._check_signature_lake_consistent(spark, bid)
            # one tokenize pass for the batch: reused as the dedup's
            # new side AND as the signature rows persisted for the
            # survivors (the corpus text is never re-tokenized)
            new_minsh = min_shingle_frame(new, self.id_col, self.text_col)
            survivors = None
            try:
                corpus_sig = self._read_lake(
                    spark, self.signature_path, bid
                )
                if corpus_sig is not None:
                    # staged: the corpus write AND the signature
                    # semi-join both consume the anti-join output —
                    # without this the whole dedup plan (including a
                    # second signature-lake scan) executes twice
                    survivors = stage(
                        incremental_dedup_ngram(
                            new,
                            None,
                            threshold=self.threshold,
                            id_col=self.id_col,
                            text_col=self.text_col,
                            new_minsh=new_minsh,
                            corpus_minsh=corpus_sig,
                        )
                    )
                else:
                    survivors = new
                self._write_partition(
                    survivors,
                    os.path.join(self.corpus_path, f"batch={batch_id}"),
                )
                # signature rows for THIS batch's survivors, same
                # idempotent layout — derived from the (staged)
                # survivors plan itself, since a zero-survivor
                # partition has no files to read back
                surv_ids = survivors.select(
                    F.col(self.id_col).alias("__id")
                )
                self._write_partition(
                    new_minsh.join(surv_ids, "__id", "semi"),
                    os.path.join(
                        self.signature_path, f"batch={batch_id}"
                    ),
                )
            finally:
                # staged frames must not outlive the batch even when
                # it fails (retries would pile up cache entries)
                release(new_minsh, survivors)
            return
        corpus = self._read_lake(spark, self.corpus_path, bid)
        if corpus is not None and corpus.limit(1).count() > 0:
            if self.dedup_fn is not None:
                survivors = self.dedup_fn(new, corpus)
            else:
                survivors = incremental_dedup_ngram(
                    new,
                    corpus,
                    threshold=self.threshold,
                    id_col=self.id_col,
                    text_col=self.text_col,
                )
        else:
            survivors = new
        self._write_partition(
            survivors, os.path.join(self.corpus_path, f"batch={batch_id}")
        )

    def _check_signature_lake_consistent(self, spark, bid: int) -> None:
        """Refuse to stream unless the two lakes' COMMITTED partition
        sets agree (ignoring this batch's own partitions, which the
        replay is about to rewrite, and torn crash residue, which the
        reader skips symmetrically on both sides):

        - corpus partitions without a committed signature partition
          mean dedup would silently skip those documents (signature
          mode newly enabled over an old corpus, a partially lost
          lake, batches written by a non-signature processor) — the
          _EMPTY marker keeps legitimately-empty signature partitions
          (all-short batches) committed and distinguishable from torn
          ones, so no content scan is needed;
        - orphaned signature partitions (their corpus partition is
          gone) would keep vetoing new documents against ghosts,
          silently dropping re-crawled copies that exist in neither
          lake."""
        own = f"batch={bid}"
        corpus_parts = {
            e
            for e, s in self._partitions(self.corpus_path).items()
            if s != "torn" and e != own
        }
        sig_parts = {
            e
            for e, s in self._partitions(self.signature_path).items()
            if s != "torn" and e != own
        }
        missing = sorted(corpus_parts - sig_parts)
        if missing:
            raise RuntimeError(
                "rolling dedup: signature lake at "
                f"{self.signature_path} is missing partitions "
                f"{missing} present in the corpus at "
                f"{self.corpus_path} — run backfill_signatures() "
                "before streaming"
            )
        orphaned = sorted(sig_parts - corpus_parts)
        if orphaned:
            raise RuntimeError(
                "rolling dedup: signature lake at "
                f"{self.signature_path} has orphaned partitions "
                f"{orphaned} with no corpus partition at "
                f"{self.corpus_path} — restore the corpus partition "
                "or delete the orphaned signatures before streaming"
            )

    def backfill_signatures(self, spark) -> int:
        """Derive the signature lake from an existing corpus lake —
        one min-shingle pass per committed batch partition (torn
        crash residue is skipped, exactly as the reader skips it),
        written under the same idempotent layout with empty outputs
        marker-committed. Returns the number of partitions
        backfilled. Use when enabling ``signature_path`` over a
        corpus built in text mode (or after losing the derived
        lake)."""
        from flink_framework_spark.operators.dedup import (
            min_shingle_frame,
        )

        if self.signature_path is None:
            raise ValueError("no signature_path configured")
        n = 0
        for entry, state in self._partitions(self.corpus_path).items():
            if state == "torn":
                continue
            sig_dir = os.path.join(self.signature_path, entry)
            if state == "empty":
                # zero corpus rows -> zero signatures; commit the
                # marker without a Spark job
                os.makedirs(sig_dir, exist_ok=True)
                open(
                    os.path.join(sig_dir, self._EMPTY_MARKER), "w"
                ).close()
                n += 1
                continue
            part = spark.read.parquet(
                os.path.join(self.corpus_path, entry)
            )
            minsh = min_shingle_frame(part, self.id_col, self.text_col)
            self._write_partition(minsh, sig_dir)
            release(minsh)
            n += 1
        return n

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire onto a streaming DataFrame; caller starts/awaits."""
        return (
            stream_df.writeStream.foreachBatch(self)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
