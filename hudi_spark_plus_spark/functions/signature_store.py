"""Near-dup signature state managed AS a lake table.

``banded_signatures`` factored MinHash dedup state into a persistable
(id, band, band_key) relation; the bench fixtures persist it as plain
parquet appends. ``SignatureStore`` packages that state on the engine's
OWN table format, which buys — for free — exactly what a 100-TB ingest
pipeline needs around its dedup state:

- **exactly-once ingest**: each batch's signature append is a keyed
  merge with a ``batch_id`` (H5 idempotence) — a crashed-and-replayed
  foreachBatch cannot double-insert signatures, which would otherwise
  make every future probe report the doc as its own duplicate's dup.
- **GC by tombstone** (the prune_signature_state lifecycle, now
  delta-sized): a deleted document's ``bands`` signature rows are
  removed by key — O(deleted × bands) tombstones, never a state rewrite.
- **time travel / incremental / clone**: the state is a lake table, so
  "what did the dedup state look like when batch N landed" and
  zero-copy dev branches of production state come from the format,
  not from bespoke code.

Signature rows are keyed ``{doc_id}:{band}`` — deterministic, so GC can
synthesize a dead document's exact key set without reading the state.
Parameters (k, bands, ngram) are pinned in the store directory at
creation; reopening with different values raises (mixed-parameter
signatures would silently never collide).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_spark_plus_spark.localdf import local_frame
from hudi_spark_plus_spark.functions.dedup import (
    banded_signatures,
    incremental_neardup_pairs,
)
from hudi_spark_plus_spark.table.lake_table import LakeTable

_PARAMS_FILE = "_signature_params.json"


def _atomic_pin(target: str, content: str) -> bool:
    """Create ``target`` with ``content`` all-or-nothing: write a temp
    sibling, hard-link it into place (atomic create-or-fail — no reader
    can ever observe a partial body). Returns False when the target
    already exists (verify against it)."""
    import uuid as _uuid

    tmp = f"{target}.{_uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        fh.write(content)
    try:
        os.link(tmp, target)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class SignatureStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 64,
        bands: int = 16,
        ngram: int = 3,
        buckets: int = 16,
    ):
        self.spark = spark
        self.k, self.bands, self.ngram = k, bands, ngram
        params = {"k": k, "bands": bands, "ngram": ngram}
        pfile = os.path.join(path, _PARAMS_FILE)
        # Atomic create-or-verify (ADVICE r10 #4): a plain
        # check-then-write let two concurrent creators with DIFFERENT
        # parameters both pass the exists() probe, one silently
        # overwriting the other — defeating the mixed-parameter guard.
        # Creation is write-temp-then-link: a bare open("x") would
        # expose an EMPTY file until the JSON flushed, crashing a
        # concurrent verifier on partial content; os.link publishes the
        # COMPLETE body or raises FileExistsError (first-writer-wins),
        # and the loser (and every reopen) drops to the verify branch
        # against the winner's pin — a parameter mismatch always
        # raises, never overwrites.
        os.makedirs(path, exist_ok=True)
        if not _atomic_pin(pfile, json.dumps(params)):
            with open(pfile) as fh:
                stored = json.load(fh)
            if stored != params:
                raise ValueError(
                    f"signature store at {path} was created with {stored}; "
                    f"reopening with {params} would produce signatures "
                    "that never collide with the stored ones"
                )
        self.table = LakeTable(spark, path, buckets=buckets)

    # -- state views --------------------------------------------------------

    def state(self, version: int | None = None) -> DataFrame:
        """The (id, band, band_key) relation probes join against —
        the lake snapshot with engine columns projected away."""
        if not self.table.exists():
            return local_frame(
                self.spark, [], "id long, band int, band_key long"
            )
        return self.table.snapshot(version=version).select(
            "id", "band", "band_key"
        )

    # -- lifecycle ----------------------------------------------------------

    def _next_ts(self) -> int:
        """Operation timestamp = next table version: a later operation
        always wins LWW, so prune-then-re-ingest (a document deleted
        and later re-added) resurrects the signature instead of losing
        to the stale tombstone a fixed timestamp would pin."""
        latest = self.table.log.latest()
        return (latest.version if latest else 0) + 1

    def _sig_rows(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        from pyspark.sql.types import IntegralType

        field = df.schema[id_col]
        if not isinstance(field.dataType, IntegralType):
            # string ids could collide through the "{id}:{band}" key
            # separator ("a:1"+band 2 vs "a"+band 12)
            raise ValueError(
                f"SignatureStore requires an integral id column; "
                f"{id_col} is {field.dataType.simpleString()}"
            )
        return banded_signatures(
            df, id_col, text_col, self.k, self.bands, self.ngram
        ).select(
            F.concat_ws(":", F.col("id"), F.col("band")).alias("_key"),
            F.lit(self._next_ts()).cast("long").alias("_ts"),
            F.lit("upsert").alias("_op"),
            F.col("id").cast("long").alias("id"),
            "band",
            "band_key",
        )

    def probe(
        self,
        batch_df: DataFrame,
        corpus_df: DataFrame,
        id_col: str,
        text_col: str,
        verify_threshold: float | None = None,
        max_bucket_size: int = 1_000_000,
    ) -> DataFrame:
        """Near-dup pairs of ``batch_df`` against the CURRENT stored
        state (plus within-batch) — O(batch) minhash + one band-keyed
        join; ``corpus_df`` supplies candidate texts for verification
        (see incremental_neardup_pairs for the id-disjoint contract)."""
        return incremental_neardup_pairs(
            batch_df,
            corpus_df,
            self.state(),
            id_col,
            text_col,
            self.k,
            self.bands,
            self.ngram,
            verify_threshold=verify_threshold,
            max_bucket_size=max_bucket_size,
        )

    def ingest(
        self, df: DataFrame, id_col: str, text_col: str, batch_id: str
    ) -> None:
        """Append the documents' signatures, exactly once per
        ``batch_id``: a replayed crash-recovery call is a no-op commit,
        so state rows can never duplicate (a doubled signature would
        make every later probe self-match through the duplicate).

        The signature frame is materialized ONCE before the merge
        (bounded by batch x bands rows BY DESIGN): the un-checkpointed
        minhash + banding pipeline would otherwise re-execute for the
        merge's batch collect AND, when the batch is too large to merge
        on the driver, the merge's write tasks — the same
        one-materialization-per-bounded-delta doctrine the matview
        refreshes apply (guide §1.2)."""
        from hudi_spark_plus_spark.ckpt import release_all

        if self.table.log.has_batch(batch_id):
            return  # replay: skip the checkpoint job, the merge no-ops
        rows = self._sig_rows(df, id_col, text_col).localCheckpoint(
            eager=True
        )
        try:
            self.table.merge(rows, batch_id=batch_id)
        finally:
            release_all((rows,))

    def prune(self, dead_ids, batch_id: str) -> None:
        """GC deleted documents' signatures by KEY — the keys are
        synthesized from the id alone (``id:band`` for every band), so
        the prune is O(dead × bands) tombstones with no state read.
        ``dead_ids``: DataFrame with an ``id`` column, or an iterable
        of ids (bounded caller lists)."""
        if not isinstance(dead_ids, DataFrame):
            dead_ids = local_frame(
                self.spark, [(int(i),) for i in dead_ids], "id long"
            )
        tombs = (
            dead_ids.select(F.col("id").cast("long").alias("id"))
            .distinct()
            # bounded-literal expansion (bands rows, broadcast), the
            # engine's standard idiom — never a data-sized cartesian
            .crossJoin(
                F.broadcast(
                    self.spark.range(self.bands).select(
                        F.col("id").cast("int").alias("band")
                    )
                )
            )
            .select(
                F.concat_ws(":", F.col("id"), F.col("band")).alias("_key"),
                F.lit(self._next_ts()).cast("long").alias("_ts"),
                F.lit("delete").alias("_op"),
                "id",
                "band",
                F.lit(None).cast("long").alias("band_key"),
            )
        )
        self.table.merge(tombs, batch_id=batch_id)


class StreamingNearDup:
    """Crash-safe exactly-once streaming near-dup ingest — the
    composition of the engine's two r10 features (VERDICT r10
    directive 6): Structured-Streaming micro-batches probed against
    signature state the pipeline itself grew, with BOTH state surfaces
    (banded signatures + survivor texts) managed as lake tables keyed
    by the stream's ``batch_id``.

    Per micro-batch (``process_batch``):

    1. replay guard: if the SIGNATURE table already has ``batch_id``,
       the batch was fully applied — return None (state no-op);
    2. probe the batch against the current state (O(batch) minhash +
       band-keyed join; never the corpus — see
       ``incremental_neardup_pairs``);
    3. survivors = batch minus corpus-matched ids minus delta-scope
       higher-id dups;
    4. commit survivors' TEXTS first, then their SIGNATURES — both
       idempotent merges on ``batch_id``.

    The commit ORDER is the crash-safety argument: the signature
    commit is the batch's commit point. A crash after texts but before
    signatures replays into an identical probe — candidate ids come
    from the signature state, which does not yet contain the batch, so
    the early-committed texts are inert — and the text merge no-ops on
    its batch_id. A crash after both commits replays into the guard.
    So a re-delivered micro-batch never doubles state rows and never
    probes a batch against its own signatures."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 64,
        bands: int = 16,
        ngram: int = 3,
        buckets: int = 16,
        verify_threshold: float | None = None,
        max_bucket_size: int = 1_000_000,
    ):
        self.spark = spark
        self.store = SignatureStore(
            spark, os.path.join(path, "signatures"), k, bands, ngram, buckets
        )
        self.texts = LakeTable(
            spark, os.path.join(path, "texts"), buckets=buckets
        )
        self.verify_threshold = verify_threshold
        self.max_bucket_size = max_bucket_size

    def _text_rows(
        self, df: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        latest = self.texts.log.latest()
        ts = (latest.version if latest else 0) + 1
        return df.select(
            F.col(id_col).cast("string").alias("_key"),
            F.lit(ts).cast("long").alias("_ts"),
            F.lit("upsert").alias("_op"),
            F.col(id_col).cast("long").alias("id"),
            F.col(text_col).alias("text"),
        )

    def corpus(self, id_col: str = "id", text_col: str = "text") -> DataFrame:
        if not self.texts.exists():
            return local_frame(self.spark, [], "id long, text string").select(
                F.col("id").alias(id_col), F.col("text").alias(text_col)
            )
        return self.texts.snapshot().select(
            F.col("id").alias(id_col), F.col("text").alias(text_col)
        )

    def seed(
        self, corpus_df: DataFrame, id_col: str, text_col: str,
        batch_id: str = "seed",
    ) -> None:
        """Initialize state from a pre-existing corpus (no probing) —
        same exactly-once commit order as process_batch."""
        self.texts.merge(
            self._text_rows(corpus_df, id_col, text_col), batch_id=batch_id
        )
        self.store.ingest(corpus_df, id_col, text_col, batch_id)

    def process_batch(
        self, batch_df: DataFrame, id_col: str, text_col: str, batch_id: str
    ) -> DataFrame | None:
        """Probe + survivor-grow, exactly once per ``batch_id``.
        Returns the batch's near-dup pairs (new_id, dup_id, jac,
        scope), or None when the batch was already applied (replay)."""
        if self.store.table.log.has_batch(batch_id):
            return None
        batch_df = batch_df.localCheckpoint(eager=True)
        pairs = self.store.probe(
            batch_df,
            self.corpus(id_col, text_col),
            id_col,
            text_col,
            verify_threshold=self.verify_threshold,
            max_bucket_size=self.max_bucket_size,
        ).localCheckpoint(eager=True)
        dropped = (
            pairs.where(F.col("scope") == "corpus")
            .select(F.col("new_id").alias(id_col))
            .unionByName(
                pairs.where(F.col("scope") == "delta")
                .select(F.col("dup_id").alias(id_col))
            )
            .distinct()
        )
        survivors = batch_df.join(
            F.broadcast(dropped), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        # texts first, signatures last (the commit point) — see class doc
        self.texts.merge(
            self._text_rows(survivors, id_col, text_col), batch_id=batch_id
        )
        self.store.ingest(survivors, id_col, text_col, batch_id)
        # release the per-batch checkpoints (DataFrame.unpersist is a
        # no-op for localCheckpoints — ckpt.py): in the streaming
        # deployment this runs every micro-batch and the blocks would
        # otherwise accumulate until the ContextCleaner notices.
        # ``pairs`` is returned to the caller and stays live.
        from hudi_spark_plus_spark.ckpt import release_all

        release_all((batch_df, survivors))
        return pairs

    def prune(self, dead_ids, batch_id: str) -> None:
        """GC deleted documents from BOTH state surfaces — O(dead)
        text tombstones + O(dead × bands) signature tombstones."""
        if not isinstance(dead_ids, DataFrame):
            dead_ids = local_frame(
                self.spark, [(int(i),) for i in dead_ids], "id long"
            )
        latest = self.texts.log.latest()
        ts = (latest.version if latest else 0) + 1
        tombs = dead_ids.select(F.col("id").cast("long").alias("id")).distinct().select(
            F.col("id").cast("string").alias("_key"),
            F.lit(ts).cast("long").alias("_ts"),
            F.lit("delete").alias("_op"),
            "id",
            F.lit(None).cast("string").alias("text"),
        )
        self.texts.merge(tombs, batch_id=f"{batch_id}-texts")
        self.store.prune(dead_ids, batch_id)
