"""Persistent, mutable ANN index: IVF state managed AS a lake table.

``ivf_topk`` (similarity.py) is the one-shot shape — fit + assign +
probe in one query. A 100-TB embedding corpus doesn't re-fit and
re-assign per query: it maintains an INDEX that new batches are added
to, deleted documents are removed from, and queries probe as it stands.
``IvfIndex`` packages that lifecycle on the engine's own table format,
the same move as ``SignatureStore`` for dedup state:

* **coarse quantizer is fixed at build** — KMeans centroids (seeded,
  sample-bounded fit) persist in a parquet sidecar named BY an O_EXCL
  params pin (n_centroids/dim/seed — reopening a path with a different
  geometry raises instead of silently mixing cell spaces). Centroids
  are the IVF contract: assignments only stay comparable under one
  fixed quantizer, so growing the corpus never re-fits (the standard
  IVF deployment rule; ``rebuild`` + ``cell_stats`` are the drift
  tooling — see below).
* **cell assignments are a lake table PARTITIONED BY CELL** with a
  GLOBAL key index (H4 + H11): ``add(df, batch_id)`` assigns cells
  (one Arrow-vectorized pandas_udf against the broadcast centroid
  matrix) and merges exactly once per ``batch_id`` (H5) — a
  crash-replayed ingest, including one replayed AFTER a later
  ``remove``, is suppressed by batch-id idempotence and cannot
  double-add or resurrect. That suppression is bounded by the vacuum
  horizon like every batch id (H5's standard caveat: size
  ``keep_last`` to the ingest pipeline's replay horizon — a replay
  older than retention is not distinguishable from a new operation).
  Version-derived ``_ts`` orders DISTINCT operations: a later remove
  outranks every earlier add's rows, and a genuine re-add outranks
  the tombstone. ``remove(ids, batch_id)`` is O(removed) key
  tombstones, no index rewrite — the tombstone carries no cell
  (global-index identity is the key ALONE, so the merge consumes the
  victim's copy in whatever cell partition it lives in). Re-adding an
  id is an upsert that RELOCATES the record to its new cell
  partition.
* **search I/O is pruned to the probed cells** (VERDICT r11 directive
  1): queries probe their ``nprobe`` nearest cells, the bounded
  distinct probed-cell set (≤ n_centroids values) prunes the
  assignments read STRUCTURALLY via manifest partition elimination
  (``snapshot(partitions=probed_cells)``) — files of unprobed cells
  are never planned, so a query batch reads ~nprobe/n_centroids of
  the INDEX FILES, not just of the join output. Candidates come from
  one equi-join on the cell id, exact cosine re-rank of candidates
  only, per-query top-k window. Time travel of the index state comes
  from the format for free (``search(..., version=)``).
* **``pq=True`` residency** (VERDICT r11 directive 3): the raw-vector
  index is the corpus re-materialized (dim × 8 bytes per row); with
  product quantization the assignments table stores ``n_sub`` small
  codes per vector instead (8-to-32× smaller on disk — asserted by
  test), the per-subspace codebooks persist in a pinned sidecar like
  the centroids, and search scores candidates by ADC (dot of the
  query against the code-reconstructed vector — a pure codegen
  expression via a codebook literal, reusing the oracled PQ machinery
  of ``similarity.py``). Exact re-rank happens only for the bounded
  top-``refine`` candidates (plus every full-code match — the planted
  -duplicate determinism arm), fetching raw vectors for those ids
  alone from ``exact_source``.

Reference parity: the reference engine has no persistent ANN index;
this is a training-data-pipeline extension (SURVEY §6) built entirely
on the engine's own H4/H5/H8/H11 table machinery.
"""

import json
import os
import shutil
import uuid
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from hudi_spark_plus_spark.localdf import local_frame
from hudi_spark_plus_spark.functions.similarity import (
    DOT_EXPR,
    NORM_EXPR,
    _pq_recon_expr,
    fit_coarse_centroids,
    pq_encode,
    pq_fit_codebooks,
    sq_dists,
)
from hudi_spark_plus_spark.table.lake_table import LakeTable

_PARAMS_FILE = "_ann_params.json"
_CENTROIDS_DIR = "centroids"
_CODEBOOKS_DIR = "codebooks"
# Reserved batch ids are namespaced with "__" so they can never collide
# with a caller-supplied id (ADVICE r12 #2: build used to seed with the
# plain id "build", so a later user add(df, "build") was silently
# suppressed by H5 idempotence and its rows dropped without error).
_BUILD_BATCH_ID = "__ann_build__"
_MIGRATE_OP = "ann_migrate_carry"


class IvfIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        pfile = os.path.join(path, _PARAMS_FILE)
        try:
            with open(pfile) as fh:
                self.params = json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"no ANN index at {path}; create one with IvfIndex.build"
            ) from None
        rows = (
            self.spark.read.parquet(
                os.path.join(
                    path, self.params.get("centroids_dir", _CENTROIDS_DIR)
                )
            )
            .orderBy("cell")
            .collect()
        )  # bounded: n_centroids rows — the quantizer, not the corpus
        self.centers = np.array([r["c"] for r in rows], dtype=np.float64)
        self.pq = bool(self.params.get("pq"))
        self.codebooks = None
        if self.pq:
            # bounded: n_sub * n_codes rows — the codebooks, not the corpus
            brows = self.spark.read.parquet(
                os.path.join(path, self.params["codebooks_dir"])
            ).collect()
            n_sub = self.params["n_sub"]
            n_codes = self.params["n_codes"]
            sub = self.params["dim"] // n_sub
            books = np.empty((n_sub, n_codes, sub), dtype=np.float64)
            for r in brows:
                books[r["j"], r["ci"]] = r["c"]
            self.codebooks = books
        asg = os.path.join(path, "assignments")
        if "buckets" in self.params:
            # r12+ layout: geometry comes from the pin, so a reopen
            # BEFORE the first assignments commit (crash between pin
            # and first add) still constructs the right table
            self.table = LakeTable(
                spark,
                asg,
                buckets=self.params["buckets"],
                partition_fields=["cell"],
                global_index=True,
            )
        else:
            # pre-partitioning layout (unpartitioned, bucketed by key):
            # persisted table metadata wins. LOUD (VERDICT r12 directive
            # 1): search on this layout silently ran the full unpruned
            # snapshot scan — the exact scale-killer the r12 layout
            # fixed — so a reopen warns and names the migration.
            warnings.warn(
                f"ANN index at {path} uses the legacy unpartitioned "
                "layout: search() reads the FULL assignments snapshot "
                "instead of pruning to probed cells. Migrate with "
                "idx.rebuild(new_path, migrate=True) — it carries the "
                "quantizer params and applied batch-id history to a "
                "cell-partitioned index.",
                stacklevel=2,
            )
            self.table = LakeTable(spark, asg)

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        seed: int = 42,
        fit_sample_max: int = 100_000,
        buckets: int = 8,
        pq: bool = False,
        n_sub: int = 8,
        n_codes: int = 16,
    ) -> "IvfIndex":
        """Fit the coarse quantizer (sample-bounded, seeded), persist
        it, and add ``corpus`` as the index's first batch. ``pq=True``
        additionally fits per-subspace PQ codebooks on the same corpus
        and stores CODES instead of raw vectors (see module
        docstring)."""
        pfile = os.path.join(path, _PARAMS_FILE)
        already = FileExistsError(
            f"ANN index already built at {path}; a second build "
            "would remix cell spaces — use a new path"
        )
        # Fail fast BEFORE any fit or write (ADVICE r11 #1): the old
        # flow overwrote the shared centroids/ dir and only then lost
        # the pin race — leaving committed assignments paired with a
        # NEW quantizer fit, the exact cell-space mix the pin guards.
        if os.path.exists(pfile):
            raise already
        # driver-side seeded Lloyd fit on a bounded sample — see
        # fit_coarse_centroids for why this replaced the Spark ML fit
        centers = fit_coarse_centroids(
            corpus.select(F.col(vec_col).alias("vec")),
            "vec",
            n_centroids,
            seed=seed,
            fit_sample_max=fit_sample_max,
        )
        dim = int(centers.shape[1])
        books = None
        if pq:
            if dim % n_sub:
                raise ValueError(
                    f"pq=True requires n_sub ({n_sub}) to divide the "
                    f"vector dim ({dim})"
                )
            books = pq_fit_codebooks(
                corpus.select(F.col(vec_col).alias("vec")),
                "vec",
                dim=dim,
                n_sub=n_sub,
                n_codes=n_codes,
                seed=seed,
                fit_sample_max=min(fit_sample_max, 50_000),
            )
        os.makedirs(path, exist_ok=True)
        # Each attempt writes its fit to UNIQUE sidecar dirs and the
        # O_EXCL params pin — published LAST, as the commit point —
        # names which dirs are THE quantizer/codebooks. A crash before
        # the pin leaves only unreferenced dirs (path not bricked:
        # rebuild writes its own dirs and pins them); a concurrent
        # build that loses the pin race removes its dirs and raises —
        # the winner's fit is never touched, so cell spaces never mix.
        nonce = uuid.uuid4().hex
        cdir = f"{_CENTROIDS_DIR}.{nonce}"
        params = {
            "n_centroids": n_centroids,
            "dim": dim,
            "seed": seed,
            "centroids_dir": cdir,
            "buckets": buckets,
        }
        local_frame(
            spark,
            [(i, [float(x) for x in centers[i]]) for i in range(len(centers))],
            "cell int, c array<double>",
        ).coalesce(1).write.parquet(os.path.join(path, cdir))
        attempt_dirs = [cdir]
        if pq:
            bdir = f"{_CODEBOOKS_DIR}.{nonce}"
            params.update(
                {
                    "pq": True,
                    "n_sub": n_sub,
                    "n_codes": n_codes,
                    "codebooks_dir": bdir,
                }
            )
            local_frame(
                spark,
                [
                    (j, ci, [float(x) for x in books[j][ci]])
                    for j in range(n_sub)
                    for ci in range(n_codes)
                ],
                "j int, ci int, c array<double>",
            ).coalesce(1).write.parquet(os.path.join(path, bdir))
            attempt_dirs.append(bdir)
        from hudi_spark_plus_spark.functions.signature_store import (
            _atomic_pin,
        )

        if not _atomic_pin(pfile, json.dumps(params)):
            for d in attempt_dirs:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
            raise already
        idx = cls(spark, path)
        idx._add(corpus, _BUILD_BATCH_ID, id_col=id_col, vec_col=vec_col)
        return idx

    def _next_ts(self) -> int:
        """Version-derived LWW (same rule as SignatureStore): a later
        remove always beats an earlier add's rows, and a re-add after
        remove resurrects instead of losing to the stale tombstone."""
        latest = self.table.log.latest()
        return (latest.version if latest else 0) + 1

    def _with_cells(self, df: DataFrame, vec_col: str) -> DataFrame:
        centers = self.centers

        @F.pandas_udf(IntegerType())
        def cell_of(vecs: pd.Series) -> pd.Series:
            if not len(vecs):
                return pd.Series([], dtype="int32")
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            d2 = sq_dists(mat, centers)
            return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

        return df.withColumn("cell", cell_of(vec_col))

    def _payload_col(self) -> str:
        return "code" if self.pq else "vec"

    def add(
        self,
        df: DataFrame,
        batch_id: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        mode: str = "cow",
    ) -> None:
        """``mode="mor"`` appends the batch as per-unit delta files
        instead of rewriting the touched (cell, bucket) units —
        O(batch) writes, the right trade for streaming maintenance
        where ingest dominates reads; pair with ``maintain()`` to
        bound the read-time delta resolution (VERDICT r12 stretch 8)."""
        if batch_id.startswith("__"):
            raise ValueError(
                f"batch ids starting with '__' are reserved for index "
                f"lifecycle commits (got {batch_id!r})"
            )
        self._add(df, batch_id, id_col=id_col, vec_col=vec_col, mode=mode)

    def _add(
        self,
        df: DataFrame,
        batch_id: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        mode: str = "cow",
    ) -> None:
        rows = self._with_cells(
            df.select(
                F.col(id_col).alias("id"),
                # normalize to array<double>: input corpora vary
                # (float32 embeddings are common) and the remove-path
                # tombstones must share one schema with every add
                F.col(vec_col).cast("array<double>").alias("vec"),
            ),
            "vec",
        )
        if self.pq:
            rows = pq_encode(rows, self.codebooks, "vec", "code").drop("vec")
        rows = rows.select(
            F.col("id").cast("string").alias("_key"),
            F.lit(self._next_ts()).cast("long").alias("_ts"),
            F.lit("upsert").alias("_op"),
            F.col("id").cast("long").alias("id"),
            "cell",
            self._payload_col(),
        )
        self.table.merge(rows, batch_id=batch_id, mode=mode)

    def remove(self, ids, batch_id: str) -> None:
        if batch_id.startswith("__"):
            raise ValueError(
                f"batch ids starting with '__' are reserved for index "
                f"lifecycle commits (got {batch_id!r})"
            )
        if not isinstance(ids, DataFrame):
            ids = local_frame(
                self.spark, [(int(i),) for i in ids], "id long"
            )
        payload_type = (
            "array<int>" if self.pq else "array<double>"
        )
        tombs = (
            ids.select(F.col("id").cast("long").alias("id"))
            .distinct()
            .select(
                F.col("id").cast("string").alias("_key"),
                F.lit(self._next_ts()).cast("long").alias("_ts"),
                F.lit("delete").alias("_op"),
                "id",
                # no cell: global-index identity is the key alone, so
                # the merge consumes the victim's copy in whatever cell
                # partition it lives in (H11 relocation semantics); the
                # tombstone row itself lands in the null partition,
                # which no probed-cell read ever plans
                F.lit(None).cast("int").alias("cell"),
                F.lit(None).cast(payload_type).alias(self._payload_col()),
            )
        )
        self.table.merge(tombs, batch_id=batch_id)

    # -- reads --------------------------------------------------------------

    def assignments(
        self, version: int | None = None, cells=None
    ) -> DataFrame:
        """(id, cell, vec|code) at a version (default latest). ``cells``
        prunes the read to those cell partitions structurally (manifest
        partition elimination — unprobed cells' files are never
        planned); requires the r12+ cell-partitioned layout."""
        kw = {}
        if cells is not None and self.table.partition_fields:
            kw["partitions"] = [str(int(c)) for c in cells]
        return self.table.snapshot(version=version, **kw).select(
            "id", "cell", self._payload_col()
        )

    def index_bytes(self, version: int | None = None) -> int:
        """Bytes on disk of the live assignment files — the residency
        number the ``pq=True`` trade is about."""
        return sum(f.bytes or 0 for f in self.table.log.live_files(version))

    def cell_stats(self, version: int | None = None) -> DataFrame:
        """Per-cell population/storage report (cell, n_files, n_rows,
        bytes) from manifest metadata alone — the skew view an operator
        reads to decide when quantizer drift warrants a ``rebuild``
        (a handful of cells holding most rows means the fixed centroids
        no longer partition the data; search cost concentrates in the
        hot cells). No data I/O."""
        if not self.table.partition_fields:
            raise ValueError(
                "cell_stats requires the cell-partitioned layout "
                "(indexes built before r12 are unpartitioned — rebuild)"
            )
        return (
            self.table.partition_stats(version)
            .where(F.col("partition") != "default")
            .select(
                F.col("partition").cast("int").alias("cell"),
                "n_files",
                "n_rows",
                "n_bytes",
            )
            .orderBy("cell")
        )

    def maintain(
        self,
        max_deltas_per_bucket: int = 10,
        max_base_files_per_bucket: int = 8,
        small_file_bytes: int | None = None,
    ) -> dict:
        """Assignments-table maintenance under streaming churn (VERDICT
        r12 stretch 8): every ``add(mode="mor")`` micro-batch appends
        delta files per touched (cell, bucket) unit, and search latency
        inside a probed cell grows with the per-unit file count the
        read must resolve. Delegates to the engine's small-file trigger
        (``maintenance.maybe_compact``) — unit-scoped (a hot cell's
        churn never rewrites cold cells), no-op when nothing is due, so
        it is safe to call from the same foreachBatch that calls
        ``add()``. Returns the compaction stats dict."""
        from hudi_spark_plus_spark.table.maintenance import maybe_compact

        return maybe_compact(
            self.table,
            max_deltas_per_bucket=max_deltas_per_bucket,
            max_base_files_per_bucket=max_base_files_per_bucket,
            small_file_bytes=small_file_bytes,
        )

    def rebuild(
        self,
        new_path: str,
        corpus: DataFrame | None = None,
        migrate: bool = False,
        **build_kw,
    ) -> "IvfIndex":
        """Re-fit the quantizer on the CURRENT corpus and build a fresh
        index at ``new_path`` — the standard answer to drift (the live
        index's quantizer is immutable by design) AND the one-call
        migration off the legacy pre-cell-partitioned layout (VERDICT
        r12 directive 1). For a raw-vector index the corpus defaults to
        the index's own live vectors; a ``pq`` index stores codes, not
        vectors, so the caller must pass the raw ``corpus``.

        ``migrate=True`` additionally CARRIES this index's applied
        batch-id history into the new index's commit log (the clone.py
        ``carried_batch_ids`` mechanism): an exactly-once ingest
        pipeline replayed against the migrated index no-ops on every
        batch the old index already absorbed, instead of double-adding.
        Params (n_centroids/seed/buckets/pq geometry) carry either way.

        Ops recipe: watch ``cell_stats`` for skew, ``rebuild`` to a new
        path during a quiet window, re-point readers, ``shutil.rmtree``
        the old path."""
        if corpus is None:
            if self.pq:
                raise ValueError(
                    "a pq index stores codes, not raw vectors; pass "
                    "corpus= explicitly to rebuild"
                )
            corpus = self.assignments().select(
                F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
            )
        kw = {
            "n_centroids": self.params["n_centroids"],
            "seed": self.params["seed"],
            "buckets": self.params.get("buckets", self.table.buckets),
        }
        if self.pq:
            kw.update(
                {
                    "pq": True,
                    "n_sub": self.params["n_sub"],
                    "n_codes": self.params["n_codes"],
                }
            )
        kw.update(build_kw)
        new = IvfIndex.build(self.spark, new_path, corpus, **kw)
        if migrate:
            # every batch id the old index applied (its own + any it
            # carried from an earlier migration) — bounded by the old
            # timeline's retained length, same stance as clone.py
            applied = {
                b
                for v in self.table.log.versions()
                if (b := self.table.log.read(v).batch_id) is not None
            } | {
                cb
                for v in self.table.log.versions()
                for cb in (self.table.log.read(v).carried_batch_ids or ())
            }
            # the new build already owns its own seeding commit.  The
            # plain "build" id is the LEGACY seed (pre-reserved-prefix
            # layouts seeded with it); on such indexes it can only be
            # the seed — a user batch named "build" could never have
            # coexisted — so carrying it would re-introduce the silent
            # add(df, "build") suppression the reserved id fixed.
            carried = sorted(applied - {_BUILD_BATCH_ID, "build"})
            if carried:
                # metadata-only commit: full current live set re-cited,
                # so segments are reused byte-for-byte; only the carried
                # id declaration is new. Published against the version
                # the live set was read at: a concurrent commit is
                # re-read, never dropped
                t = new.table

                def attempt():
                    prev = t.log.latest()
                    t._publish(_MIGRATE_OP, prev.files, prev,
                               carried_batch_ids=carried)

                t._with_commit_retries(attempt)
        return new

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        version: int | None = None,
        exact_source: DataFrame | None = None,
        refine: int = 50,
    ) -> DataFrame:
        """(q_id, n_id, sim, rank): top-k over the index AS IT STANDS
        (or at a time-travel ``version``). I/O is pruned to the probed
        cells' files (bounded distinct probed-cell set → manifest
        partition elimination); candidates come from one cell-id
        equi-join.

        Raw-vector index: exact cosine re-rank of the probed cells'
        candidates. ``pq`` index: ADC scoring of the compressed codes
        (codegen expression, no UDF in the scan), exact cosine re-rank
        of the bounded top-``refine`` ∪ full-code-match candidates —
        their raw vectors fetched from ``exact_source`` (a DataFrame
        carrying ``id_col`` + ``vec_col`` for the indexed ids, e.g. the
        corpus table); without ``exact_source`` the sim is the ADC
        cosine against the code-RECONSTRUCTED vector (quantization
        noise included — fine for recall, not for exact ranks)."""
        centers, np_ = self.centers, nprobe

        @F.pandas_udf(ArrayType(IntegerType()))
        def probe_cells(vecs: pd.Series) -> pd.Series:
            if not len(vecs):
                return pd.Series([], dtype=object)
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            d2 = sq_dists(mat, centers)
            order = np.argsort(d2, axis=1)[:, :np_].astype(np.int32)
            return pd.Series(list(order))

        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        ).withColumn("cell", F.explode(probe_cells("q_vec")))
        if self.pq:
            q = pq_encode(q, self.codebooks, "q_vec", "q_code")
        # one materialization, reused by the bounded probed-cell
        # collect AND the candidate join (avoids re-running the probe
        # UDF); the query batch is search-sized, never the corpus
        q = q.localCheckpoint()
        cells = None
        if self.table.partition_fields:
            # bounded by n_centroids — the probed-cell set is the prune
            cells = sorted(
                r["cell"] for r in q.select("cell").distinct().collect()
            )
        snap = self.assignments(version, cells=cells)
        cand = (
            snap.withColumnRenamed("id", "n_id")
            .withColumnRenamed(self._payload_col(), f"n_{self._payload_col()}")
            .join(q, "cell")
            .where(F.col("q_id") != F.col("n_id"))
        )
        if self.pq:
            return self._rerank_pq(
                cand, k, refine, exact_source, id_col, vec_col
            )
        dot = F.expr(DOT_EXPR.format(a="q_vec", b="n_vec"))
        nq = F.expr(NORM_EXPR.format(a="q_vec"))
        nc = F.expr(NORM_EXPR.format(a="n_vec"))
        scored = cand.select(
            "q_id", "n_id", (dot / (nq * nc)).alias("sim_raw")
        )
        return self._topk(scored, k)

    def _rerank_pq(
        self,
        cand: DataFrame,
        k: int,
        refine: int,
        exact_source: DataFrame | None,
        id_col: str,
        vec_col: str,
    ) -> DataFrame:
        from pyspark.sql.window import Window

        recon = F.expr(_pq_recon_expr("n_code", self.codebooks))
        scored = cand.withColumn("_recon", recon).withColumn(
            "_adc", F.expr(DOT_EXPR.format(a="q_vec", b="_recon"))
        )
        w_adc = Window.partitionBy("q_id").orderBy(
            F.col("_adc").desc(), F.col("n_id")
        )
        top_adc = (
            scored.withColumn("_r", F.row_number().over(w_adc))
            .where(F.col("_r") <= refine)
            .select("q_id", "q_vec", "n_id", "_recon")
        )
        # full-code matches are candidates REGARDLESS of ADC rank: an
        # exact duplicate encodes to the query's own codes, so this arm
        # makes planted duplicates deterministically present (the same
        # construction pq_topk uses — what lets the check query
        # hash-verify the operator)
        code_match = scored.where(
            F.array_join("n_code", "_") == F.array_join("q_code", "_")
        ).select("q_id", "q_vec", "n_id", "_recon")
        cset = top_adc.unionByName(code_match).dropDuplicates(
            ["q_id", "n_id"]
        )
        if exact_source is not None:
            raw = exact_source.select(
                F.col(id_col).cast("long").alias("n_id"),
                F.col(vec_col).cast("array<double>").alias("n_vec"),
            )
            # the candidate set is bounded (≤ refine+matches per query)
            # — broadcast it INTO the raw-vector scan, never shuffle
            # the corpus. One materialization of the matched rows so
            # the anti-probe below does not re-run the corpus scan.
            matched = raw.join(
                F.broadcast(cset.drop("_recon")), "n_id"
            ).localCheckpoint(eager=True)
            # candidates ABSENT from exact_source (the index outgrew
            # the corpus table the caller re-ranks against) fall back
            # to their ADC-reconstructed vector instead of silently
            # vanishing from the top-k (review r12 #3) — their sim
            # carries quantization noise, an exact-source gap the
            # caller owns, but a true neighbor is never dropped.
            missing = cset.alias("c").join(
                F.broadcast(
                    matched.select("n_id", "q_id").alias("m")
                ),
                (F.col("c.n_id") == F.col("m.n_id"))
                & (F.col("c.q_id") == F.col("m.q_id")),
                "anti",
            ).select(
                "q_id", "q_vec", "n_id",
                F.col("_recon").alias("n_vec"),
            )
            cset = matched.select(
                "q_id", "q_vec", "n_id", "n_vec"
            ).unionByName(missing)
        else:
            cset = cset.withColumnRenamed("_recon", "n_vec")
        dot = F.expr(DOT_EXPR.format(a="q_vec", b="n_vec"))
        nq = F.expr(NORM_EXPR.format(a="q_vec"))
        nc = F.expr(NORM_EXPR.format(a="n_vec"))
        scored = cset.select(
            "q_id", "n_id", (dot / (nq * nc)).alias("sim_raw")
        )
        return self._topk(scored, k)

    @staticmethod
    def _topk(scored: DataFrame, k: int) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy("q_id").orderBy(
            F.col("sim_raw").desc(), F.col("n_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "q_id", "n_id", F.round("sim_raw", 4).alias("sim"), "rank"
            )
        )
