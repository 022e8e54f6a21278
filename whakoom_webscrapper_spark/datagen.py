"""Deterministic synthetic world for the crawl engine.

The sandbox has no network (reference non-goal: live fetching), so the
"web" is generated: an image+caption table shaped exactly per
``BASELINE.json:15`` ``input_hint`` —
``(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash long)`` — plus a link graph whose pages the fetch step "returns",
mirroring the reference's lists→titles fan-out
(reference: 001_initial_schema.sql:31-58, spiders/lists.py:41-55).

Everything is a pure function of (seed, id): no wall clock, no RNG state
shared across rows — so generation distributes embarrassingly via
``spark.range(N)`` + ``mapInPandas`` and any row can be regenerated
anywhere for verification (the per-row decode/caption oracle).

Host assignment is Zipf-ish (quadratic skew toward low host ids) to
exercise the hot-host skew path the north rule calls out
(BASELINE.json:14): host 0 gets ~10x the pages of the median host.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whakoom_webscrapper_spark import imaging

GLOBAL_SEED = 42

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

LINKGRAPH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("out_links", T.ArrayType(T.StringType(), False), False),
        T.StructField("html", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

_ADJ = ["quiet", "crimson", "hollow", "bright", "ancient", "mossy", "gilded", "furtive"]
_NOUN = ["harbor", "lantern", "archive", "orchard", "comet", "sparrow", "quarry", "atlas"]


# ---------------------------------------------------------------------------
# Pure per-id functions (shared by Spark generation, tests, and the
# sequential golden simulator — single source of truth).
# ---------------------------------------------------------------------------
def image_id_of(i: int) -> str:
    return f"img{i:010d}"


def fmt_of(i: int) -> str:
    return "png" if i % 2 == 0 else "jpeg"


def dims_of(i: int) -> tuple[int, int]:
    """Image dimensions 32-160 px per side — sized like real crawl
    thumbnails/covers so decode cost in the bench reflects production
    payloads rather than toy 16 px tiles."""
    return 32 + (i % 5) * 32, 32 + ((i // 5) % 5) * 32


def caption_of(i: int) -> str:
    return (
        f"caption for {image_id_of(i)} with {_ADJ[i % 8]} "
        f"{_NOUN[(i // 8) % 8]} number {i}"
    )


def pixels_of(i: int) -> np.ndarray:
    """Band-limited synthetic cover art: gradient + bilinear-upsampled
    low-res structure + mild per-pixel detail. Cover thumbnails are
    natural images, not white noise — amplitude-64 uniform noise (the
    round-1/2 content) has no spatial correlation and is the worst case
    for any DCT codec, so it would mismeasure the real-JPEG decode cost
    the bench now carries. Detail amplitude ±3 keeps the content's own
    quantization-noise floor above the PSNR≥40 dB lossy gate
    (uniform ±3 → var 3 → floor ≈ 43 dB even if the codec zeroes it)."""
    w, h = dims_of(i)
    rng = np.random.default_rng(GLOBAL_SEED * 1_000_003 + i)
    gx = (np.arange(w, dtype=np.float64) * 120.0) / max(w - 1, 1)
    gy = (np.arange(h, dtype=np.float64) * 60.0) / max(h - 1, 1)
    base = gx[None, :] + gy[:, None]
    # low-res noise grid, bilinearly upsampled 8x → smooth "art regions"
    lo = rng.uniform(0, 120, size=(h // 8 + 2, w // 8 + 2, 3))
    yy = np.arange(h) / 8.0
    xx = np.arange(w) / 8.0
    y0 = yy.astype(np.int64)
    x0 = xx.astype(np.int64)
    fy = (yy - y0)[:, None, None]
    fx = (xx - x0)[None, :, None]
    structure = (lo[y0][:, x0] * (1 - fy) + lo[y0 + 1][:, x0] * fy) * (
        1 - fx
    ) + (lo[y0][:, x0 + 1] * (1 - fy) + lo[y0 + 1][:, x0 + 1] * fy) * fx
    detail = rng.uniform(-3.0, 3.0, size=(h, w, 3))
    px = np.clip(base[:, :, None] + structure + detail + 20.0, 0, 255)
    return px.astype(np.uint8)


def url_of(i: int, n_hosts: int) -> str:
    return f"https://{host_of(i, n_hosts)}/page/{i}"


def host_of(i: int, n_hosts: int) -> str:
    # quadratic skew: u in [0,1) from a cheap id mix, host = floor(H*u^2)
    u = ((i * 2654435761) % 1_000_000) / 1_000_000.0
    return f"host{int(n_hosts * u * u)}.test"


def priority_of(i: int) -> int:
    return (i * 40503) % 10


def out_link_ids(i: int, n_urls: int, fanout: int) -> list[int]:
    return [((i * 31) + 7 * j + 1) % n_urls for j in range(1, fanout + 1)]


def budget_of(hid: int, budget_scale: int = 1) -> int:
    """Per-host politeness budget (single source of truth — gen_robots and
    the golden simulator both derive from here so they cannot drift)."""
    return (4 + (hid % 13)) * budget_scale


def disallow_of(hid: int) -> list[str]:
    """Per-host robots disallow prefixes (shared with the golden sim)."""
    return ["/page/9", "/admin"] if hid % 7 == 3 else ["/admin"]


def fail_attempts_of(i: int) -> int:
    """Deterministic failure injection: how many times the fetch of page i
    fails before succeeding (reference retry semantics: 3 attempts,
    pipelines.py:88-122). %97 → permanent failure (>=3)."""
    if i % 97 == 0:
        return 3
    if i % 37 == 0:
        return 1
    return 0


def gen_images_batch(ids: np.ndarray) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        px = pixels_of(i)
        fmt = fmt_of(i)
        rows.append(
            {
                "image_id": image_id_of(i),
                "bytes": imaging.encode_image(px, fmt),
                "w": px.shape[1],
                "h": px.shape[0],
                "fmt": fmt,
                "caption": caption_of(i),
                "phash": imaging.phash64(px),
            }
        )
    return pd.DataFrame(rows)


def link_title_of(dst: int) -> str:
    """Anchor text for a link to page ``dst`` — deliberately padded with
    whitespace so extraction must apply the reference's .strip() (P3)."""
    return f"  {_ADJ[dst % 8].title()} {_NOUN[(dst // 8) % 8]} list {dst} "


def html_of(i: int, n_urls: int, n_hosts: int, fanout: int) -> str:
    """Render page ``i``'s HTML payload — the markup the reference's
    lists.py:39-47 parse expects: each out-link lives as the SECOND
    anchor of an h3-headed group (anchor[0] is in-page nav), plus a
    single-anchor decoy group that must FAIL the len(a)>1 cardinality
    filter (its href points at a page NOT in out_links — a buggy
    extractor that keeps it diverges from the golden crawl), plus a
    publications.py:96-102-style flat ``span.title > a`` self-link."""
    dsts = out_link_ids(i, n_urls, fanout)
    groups = []
    for k, d in enumerate(dsts):
        groups.append(
            f'<div class="list__item"><h3>Group {k}</h3>'
            f'<a href="#nav{k}">more</a>'
            f'<a href="{url_of(d, n_hosts)}">{link_title_of(d)}</a></div>'
        )
    decoy_dst = (i * 7 + 3) % n_urls
    decoy = (
        '<div class="promo"><h3>Promoted</h3>'
        f'<a href="{url_of(decoy_dst, n_hosts)}">promo {decoy_dst}</a></div>'
    )
    flat = (
        f'<span class="title"><a href="{url_of(i, n_hosts)}">'
        f"{link_title_of(i)}</a></span>"
    )
    return (
        f"<html><body><h1>Page {i}</h1>{decoy}{''.join(groups)}{flat}"
        "</body></html>"
    )


def gen_linkgraph_batch(ids: np.ndarray, n_urls: int, n_hosts: int, fanout: int) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        rows.append(
            {
                "url": url_of(i, n_hosts),
                "image_id": image_id_of(i),
                "out_links": [url_of(d, n_hosts) for d in out_link_ids(i, n_urls, fanout)],
                "html": html_of(i, n_urls, n_hosts, fanout),
                "priority": priority_of(i),
            }
        )
    return pd.DataFrame(rows)


def clustered_embedding_of(
    i: int, dim: int = 64, n_clusters: int = 20, noise: float = 0.06
) -> np.ndarray:
    """Deterministic clustered unit vector — the shape of a REAL embedding
    corpus (tight clusters + unit norm), used by the ANN recall gates.
    label = i mod n_clusters; vector = unit(center_label + noise·gauss).
    noise=0.06, d=64 → within-cluster cos ≈ 0.8, cross-cluster ≈ 0."""
    label = i % n_clusters
    crng = np.random.default_rng(GLOBAL_SEED * 7919 + label)
    center = crng.standard_normal(dim)
    center /= np.linalg.norm(center)
    rng = np.random.default_rng(GLOBAL_SEED * 104_729 + i)
    v = center + noise * rng.standard_normal(dim)
    return (v / np.linalg.norm(v)).astype(np.float32)


def gen_clustered_embeddings(
    spark: SparkSession,
    n: int,
    dim: int = 64,
    n_clusters: int = 20,
    noise: float = 0.06,
    partitions: int = 8,
) -> DataFrame:
    """(vec_id, embedding, label) with planted cluster structure."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
            T.StructField("label", T.IntegerType(), False),
        ]
    )

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].values
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [
                        clustered_embedding_of(int(i), dim, n_clusters, noise).tolist()
                        for i in ids
                    ],
                    "label": [int(i) % n_clusters for i in ids],
                }
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema)


# ---------------------------------------------------------------------------
# Spark generation (distributed; used for bench-scale worlds)
# ---------------------------------------------------------------------------
def gen_images(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    def gen(iterator):
        for pdf in iterator:
            yield gen_images_batch(pdf["id"].values)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, IMAGES_SCHEMA)


def gen_linkgraph(
    spark: SparkSession, n: int, n_hosts: int, fanout: int = 8, partitions: int = 32
) -> DataFrame:
    def gen(iterator):
        for pdf in iterator:
            yield gen_linkgraph_batch(pdf["id"].values, n, n_hosts, fanout)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, LINKGRAPH_SCHEMA)


def gen_seeds(spark: SparkSession, n_seeds: int, n_urls: int, n_hosts: int) -> DataFrame:
    """Fixed seed list — analog of ``start_urls`` (spiders/lists.py:17).
    Seed ids spread across the id space deterministically."""
    step = max(n_urls // max(n_seeds, 1), 1)
    rows = [
        (url_of((k * step) % n_urls, n_hosts), priority_of((k * step) % n_urls))
        for k in range(n_seeds)
    ]
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("url", T.StringType(), False),
                T.StructField("priority", T.IntegerType(), False),
            ]
        ),
    )


def gen_robots(spark: SparkSession, n_hosts: int, budget_scale: int = 1) -> DataFrame:
    """Per-host politeness budget + disallow rules — analog of
    ROBOTSTXT_OBEY + AutoThrottle (reference: settings.py:68,119-126).
    Every 7th host disallows /page/ ids ending in 9; budgets vary 4-16
    URLs per epoch by host id (scaled by ``budget_scale`` — the bench's
    politeness-budget knob, held fixed across parallelism levels)."""
    rows = []
    for hid in range(n_hosts):
        host = f"host{hid}.test"
        rows.append((host, budget_of(hid, budget_scale), disallow_of(hid)))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("host", T.StringType(), False),
                T.StructField("epoch_budget", T.IntegerType(), False),
                T.StructField("disallow_prefixes", T.ArrayType(T.StringType(), False), False),
            ]
        ),
    )


def write_world(
    spark: SparkSession,
    out_dir: str,
    n_urls: int,
    n_hosts: int,
    fanout: int = 8,
    n_seeds: int = 8,
    partitions: int = 32,
    budget_scale: int = 1,
) -> None:
    """Materialize the synthetic world as parquet under ``out_dir``."""
    gen_linkgraph(spark, n_urls, n_hosts, fanout, partitions).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/linkgraph")
    gen_images(spark, n_urls, partitions).write.mode("overwrite").parquet(
        f"{out_dir}/images"
    )
    gen_seeds(spark, n_seeds, n_urls, n_hosts).write.mode("overwrite").parquet(
        f"{out_dir}/seeds"
    )
    gen_robots(spark, n_hosts, budget_scale).write.mode("overwrite").parquet(
        f"{out_dir}/robots"
    )
