"""Write-time ANN index tables — the difference between "ANN demo" and "ANN
at 10^9 vectors".

The in-plan forms in operators/similarity.py recompute the bucket of every
row per query (8 hyperplane dot products per row for multi-probe, n_list
distance argmins for IVF). Correct, but at scale the bucket must be WRITTEN
at ingest so the probe is a partition-pruned scan. This module materializes
one vectors table:

    <base>/vectors/cell=<c>/hbucket=<b>/*.parquet
        columns: <id>, <vec>, sbucket

  - ``cell``     IVF coarse-quantizer cell (data-derived centroids,
                 similarity.ivf_seed_centroids) — partition column;
  - ``hbucket``  random-hyperplane bucket (Charikar'02) — partition column,
                 so a multi-probe IN-list prunes to (1+n_probe)/2^n_planes
                 of the files;
  - ``sbucket``  axis-aligned sign-LSH bucket — plain column, pushed as a
                 data filter (min/max pruning after the per-partition sort).

Quantizer state (planes, centroids, dims) rides in ``_ann_meta.json`` so the
query side probes with pure driver-side arithmetic — zero scans before the
pruned candidate read, the same role Xapian's table headers play for its
B-trees. The tables are directories of parquet, like the text index; in a
table format the partition columns would map to ``bucket(...)`` partition
transforms.

Incremental maintenance (the ``replace_document`` analogue for the vectors
table — /root/reference/src/main.rs:138-140 re-adds changed docs by id):
``upsert`` appends re-stamped rows into their cell=/hbucket= partitions and
records (id, gen) equality-delete tombstones; the read path drops any row
an equal-id tombstone with a HIGHER generation shadows — exactly Iceberg's
equality-delete + sequence-number semantics, so a delta re-index never
rewrites the corpus. The quantizer is frozen at build time (standard IVF
maintenance; rebuild to re-derive centroids).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import similarity as SIM

_META = "_ann_meta.json"


@dataclass
class AnnIndex:
    spark: SparkSession
    base_dir: str
    planes: list[list[float]]
    centroids: list[tuple[int, list[float]]]
    sign_dims: tuple[int, ...]
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    gen: int = 0  # current upsert generation (Iceberg sequence-number analogue)
    _vectors: DataFrame | None = None  # cached relation (file listing done once)

    # ------------------------------------------------------------ build/io

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        base_dir: str,
        n_planes: int = SIM.N_PLANES,
        n_list: int = SIM.IVF_N_LIST,
        sign_dims: tuple[int, ...] = SIM.LSH_DIMS,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "AnnIndex":
        """One pass over the corpus: derive the quantizers, stamp every row
        with its cell/hbucket/sbucket, write partition-pruned. The only
        driver-side data is the bounded centroid sample (<= n_list rows)."""
        centroids = SIM.ivf_seed_centroids(embeddings, n_list, id_col, vec_col)
        if not centroids:
            raise ValueError("cannot build an ANN index over an empty corpus")
        dim = len(centroids[0][1])
        planes = SIM.hyperplanes(n_planes, dim)
        idx = cls(
            embeddings.sparkSession, base_dir, planes, centroids,
            tuple(sign_dims), id_col, vec_col,
        )
        (
            idx._stamp(embeddings, gen=0)
            .repartition("cell", "hbucket")
            .sortWithinPartitions("sbucket", id_col)
            .write.mode("overwrite")
            .partitionBy("cell", "hbucket")
            .parquet(os.path.join(base_dir, "vectors"))
        )
        idx._write_meta(dim)
        return idx

    def _stamp(self, embeddings: DataFrame, gen: int) -> DataFrame:
        """Quantize rows against this index's frozen quantizer."""
        return embeddings.select(
            F.col(self.id_col),
            F.col(self.vec_col),
            SIM.sign_bucket(self.vec_col, self.sign_dims).alias("sbucket"),
            SIM._assign_cell(self.vec_col, self.centroids).alias("cell"),
            SIM.hyperplane_bucket(self.vec_col, self.planes).alias("hbucket"),
        ).withColumn("gen", F.lit(int(gen)))

    def _write_meta(self, dim: int) -> None:
        meta = {
            "planes": self.planes,
            "centroids": [[cid, vec] for cid, vec in self.centroids],
            "sign_dims": list(self.sign_dims),
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "dim": dim,
            "gen": self.gen,
        }
        with open(os.path.join(self.base_dir, _META), "w") as f:
            json.dump(meta, f)

    def upsert(self, embeddings: DataFrame) -> None:
        """Replace-or-add vectors by id WITHOUT rewriting the corpus (the
        vectors-table ``replace_document``): new rows are re-stamped with
        the frozen quantizer and APPENDED into their cell=/hbucket= leaf
        partitions at generation gen+1, and one (id, gen+1) equality-delete
        tombstone per row is appended to ``deletes/``. The read path
        (vectors()) drops rows shadowed by a strictly-newer tombstone, so an
        id's stale copy dies even when its new vector lands in a DIFFERENT
        partition. Tombstone volume is bounded by rows-ever-upserted; probes
        stay partition-pruned because the tombstone anti-join is a broadcast
        on top of the pruned scan. This is Iceberg's equality-delete +
        sequence-number MERGE model on the parquet-dir stand-in."""
        gen = self.gen + 1
        (
            self._stamp(embeddings, gen=gen)
            .repartition("cell", "hbucket")
            .sortWithinPartitions("sbucket", self.id_col)
            .write.mode("append")
            .partitionBy("cell", "hbucket")
            .parquet(os.path.join(self.base_dir, "vectors"))
        )
        (
            embeddings.select(
                F.col(self.id_col), F.lit(int(gen)).alias("gen")
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(os.path.join(self.base_dir, "deletes"))
        )
        self.gen = gen
        self._write_meta(
            len(self.centroids[0][1]) if self.centroids else 0
        )
        self._vectors = None  # new files + tombstones: re-list on next read

    def compact(self) -> None:
        """Fold tombstones into the base files: rewrite ONLY the leaf
        partitions that still hold a shadowed row (Spark dynamic partition
        overwrite — untouched cell=/hbucket= leaves keep their files), then
        drop the delete set. Iceberg's rewrite_data_files + removal of the
        equality-delete files, on the parquet-dir stand-in. Read volume is
        bounded by the affected partitions, not the corpus.

        A leaf whose rows are ALL shadowed yields zero survivor rows, so the
        dynamic overwrite never touches its files — dropping the tombstones
        alone would resurrect those stale vectors. We therefore collect the
        (bounded, <= leaf count) affected partition list up front and, after
        the overwrite, physically remove every affected leaf the write left
        unrewritten. The live set can never go empty here: ``upsert`` appends
        a same-generation replacement row for every tombstone it records, so
        at least one leaf always survives."""
        import shutil

        deletes_dir = os.path.join(self.base_dir, "deletes")
        if not os.path.isdir(deletes_dir):
            return  # nothing to fold
        vec_dir = os.path.join(self.base_dir, "vectors")
        base = self.spark.read.parquet(vec_dir)
        if "gen" not in base.columns:
            base = base.withColumn("gen", F.lit(0))
        dead = (
            self.spark.read.parquet(deletes_dir)
            .groupBy(self.id_col)
            .agg(F.max("gen").alias("_del_gen"))
        )
        joined = base.join(F.broadcast(dead), self.id_col, "left")
        # collected BEFORE the overwrite (the plan reads the files the write
        # replaces); bounded by the number of leaf partitions, not rows
        affected = {
            (r["cell"], r["hbucket"])
            for r in joined.filter(F.col("_del_gen") > F.col("gen"))
            .select("cell", "hbucket")
            .distinct()
            .collect()
        }
        if not affected:
            # tombstones shadow nothing (e.g. compact after compact): just
            # drop them — no rewrite needed
            shutil.rmtree(deletes_dir, ignore_errors=True)
            self._vectors = None
            return
        leaf_key = F.concat_ws("|", F.col("cell"), F.col("hbucket"))
        survivors = (
            joined.filter(
                F.col("_del_gen").isNull()
                | (F.col("_del_gen") <= F.col("gen"))
            )
            .drop("_del_gen")
            .filter(leaf_key.isin([f"{c}|{h}" for c, h in affected]))
            # materialize before the overwrite: the write targets the same
            # directory the plan reads (Iceberg would swap snapshots here;
            # the parquet stand-in breaks the read-write cycle by
            # checkpointing the bounded affected-partition rows)
            .localCheckpoint()
        )
        # leaves the dynamic overwrite WILL rewrite; cheap — survivors is
        # already checkpointed
        rewritten = {
            (r["cell"], r["hbucket"])
            for r in survivors.select("cell", "hbucket").distinct().collect()
        }
        prev_mode = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        try:
            (
                survivors.repartition("cell", "hbucket")
                .sortWithinPartitions("sbucket", self.id_col)
                .write.mode("overwrite")
                .partitionBy("cell", "hbucket")
                .parquet(vec_dir)
            )
        finally:
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        # fully-shadowed leaves produced no survivor rows, so the overwrite
        # left their old files in place — remove them, or dropping the
        # tombstones below would bring the dead vectors back to life
        for cell, hb in affected - rewritten:
            shutil.rmtree(
                os.path.join(vec_dir, f"cell={cell}", f"hbucket={hb}"),
                ignore_errors=True,
            )
            cell_dir = os.path.join(vec_dir, f"cell={cell}")
            if os.path.isdir(cell_dir) and not any(
                e.startswith("hbucket=") for e in os.listdir(cell_dir)
            ):
                shutil.rmtree(cell_dir, ignore_errors=True)
        shutil.rmtree(deletes_dir, ignore_errors=True)
        self._vectors = None

    @classmethod
    def read(cls, spark: SparkSession, base_dir: str) -> "AnnIndex":
        with open(os.path.join(base_dir, _META)) as f:
            meta = json.load(f)
        return cls(
            spark,
            base_dir,
            meta["planes"],
            [(int(cid), [float(x) for x in vec]) for cid, vec in meta["centroids"]],
            tuple(meta["sign_dims"]),
            meta["id_col"],
            meta["vec_col"],
            gen=int(meta.get("gen", 0)),
        )

    def vectors(self) -> DataFrame:
        """The live index relation: base scan minus tombstone-shadowed rows.
        Cached on the instance: partition DISCOVERY (listing the
        cell=/hbucket= leaves) runs once per index handle — the role a table
        catalog's metadata cache plays at cluster scale; with a fresh read
        per query, listing dominates small-corpus probe latency. Partition
        PRUNING still happens per query at planning time: probe filters on
        cell/hbucket push below the broadcast tombstone join onto the scan.
        A row survives unless an equal-id tombstone with a strictly higher
        generation exists (so each upsert's own rows survive their own
        markers while every older copy dies)."""
        if self._vectors is None:
            base = self.spark.read.parquet(
                os.path.join(self.base_dir, "vectors")
            )
            if "gen" not in base.columns:  # pre-upsert index layout
                base = base.withColumn("gen", F.lit(0))
            deletes_dir = os.path.join(self.base_dir, "deletes")
            if os.path.isdir(deletes_dir):
                dead = (
                    self.spark.read.parquet(deletes_dir)
                    .groupBy(self.id_col)
                    .agg(F.max("gen").alias("_del_gen"))
                )
                base = (
                    base.join(F.broadcast(dead), self.id_col, "left")
                    .filter(
                        F.col("_del_gen").isNull()
                        | (F.col("_del_gen") <= F.col("gen"))
                    )
                    .drop("_del_gen")
                )
            self._vectors = base
        return self._vectors

    # ------------------------------------------------------------- queries
    # Probe selection is driver-side arithmetic over the stored quantizer
    # (no jobs); the candidate read is the only scan, pruned by partition
    # (cell/hbucket) or pushed data filter (sbucket).

    def multiprobe_topk(
        self, query_vec: list[float], k: int = 10, n_probe: int = SIM.N_PROBE
    ) -> DataFrame:
        probes = SIM.multiprobe_buckets(query_vec, self.planes, n_probe)
        cand = self.vectors().filter(F.col("hbucket").isin(probes))
        return SIM.cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)

    def ivf_topk(
        self, query_vec: list[float], k: int = 10, n_probe: int = SIM.IVF_N_PROBE
    ) -> DataFrame:
        def d2(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        probe = [
            cid
            for cid, _ in sorted(
                self.centroids, key=lambda e: (d2(query_vec, e[1]), e[0])
            )[:n_probe]
        ]
        cand = self.vectors().filter(F.col("cell").isin(probe))
        return SIM.cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)

    def lsh_topk(self, query_vec: list[float], k: int = 10) -> DataFrame:
        qbucket = 0
        for i, d in enumerate(self.sign_dims):
            if query_vec[d] >= 0:
                qbucket |= 1 << i
        cand = self.vectors().filter(F.col("sbucket") == F.lit(qbucket))
        return SIM.cosine_topk(cand, query_vec, k, self.id_col, self.vec_col)

    def probe_fraction(self, query_vec: list[float], n_probe: int = SIM.N_PROBE) -> float:
        """Fraction of leaf partition directories the multi-probe candidate
        read scans (exactly what partition pruning selects) — the honesty
        metric for 'the probe really prunes', reported by bench.py alongside
        recall."""
        probes = {int(b) for b in SIM.multiprobe_buckets(query_vec, self.planes, n_probe)}
        base = os.path.join(self.base_dir, "vectors")
        total = pruned = 0
        for cell_dir in os.listdir(base):
            full = os.path.join(base, cell_dir)
            if not (cell_dir.startswith("cell=") and os.path.isdir(full)):
                continue
            for hb_dir in os.listdir(full):
                if not hb_dir.startswith("hbucket="):
                    continue
                total += 1
                if int(hb_dir.split("=", 1)[1]) in probes:
                    pruned += 1
        return pruned / max(total, 1)
