"""Guards for the shared query kernels of the registry operator modules.
No Spark is started.

- The ADC kNN searches, the LM logprob pair and the media twins each
  run one builder and one SQL template, and the blocked prefix sums one
  helper. ``test_no_repeated_windows`` keeps each of the three operator
  modules that way, and ``test_no_repeated_windows_across_package`` the
  whole package: a block of six lines copied within a module or across
  two fails it.
- ``test_oracle_digest`` pins the DuckDB side of every query built on
  those kernels to a digest of its output at sf0.001. The oracle check
  compares Spark with DuckDB only, so a refactor that changed a
  builder and its SQL twin the same way would pass it; it fails here.
"""

import collections
import glob
import hashlib
import os

import duckdb
import pytest

from tests.test_operators import SF_DIR
from tools.check_oracles import _canon

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("documents", "embeddings", "events")
FOLDED_MODULES = ("similarity.py", "textops.py", "multimodal.py")
WINDOW = 6


def repeated_windows(texts: dict[str, str]) -> dict[tuple[str, ...], list[str]]:
    """Every WINDOW-line window that occurs more than once in the corpus
    ``texts`` (name -> text; no window spans two texts), with the
    ``name:line`` places where it starts, lines 1-based. Lines are
    compared stripped, and a window counts only if at least WINDOW - 1
    of its lines are longer than 3 characters (so runs of brackets and
    blank lines do not)."""
    starts = collections.defaultdict(list)
    for name, text in texts.items():
        lines = [line.strip() for line in text.splitlines()]
        for i in range(len(lines) - WINDOW + 1):
            window = tuple(lines[i : i + WINDOW])
            if sum(len(line) > 3 for line in window) >= WINDOW - 1:
                starts[window].append(f"{name}:{i + 1}")
    return {w: s for w, s in starts.items() if len(s) > 1}


@pytest.mark.parametrize("module", FOLDED_MODULES)
def test_no_repeated_windows(module):
    path = os.path.join(REPO_DIR, "nreadability_spark", "operators", module)
    with open(path, encoding="utf-8") as f:
        repeats = repeated_windows({module: f.read()})
    assert not repeats, [f"{s} {w[0]!r}" for w, s in repeats.items()]


def test_no_repeated_windows_across_package():
    package = os.path.join(REPO_DIR, "nreadability_spark")
    texts = {}
    for path in sorted(glob.glob(os.path.join(package, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            texts[os.path.relpath(path, package)] = f.read()
    assert "core/dom.py" in texts
    repeats = repeated_windows(texts)
    assert not repeats, [f"{s} {w[0]!r}" for w, s in repeats.items()]


def test_repeated_windows_counts_copies():
    block = "\n".join(f"line number {i}" for i in range(WINDOW))
    text = "\n".join([block, "}", block, "", "(", ")", "x", "(", ")", "x", "(", ")"])
    assert list(repeated_windows({"a.py": text}).values()) == [["a.py:1", "a.py:8"]]
    short = "\n".join(["(", ")", "x"] * 6)
    assert repeated_windows({"a.py": short}) == {}
    # a copy in another module counts; a window never spans two texts
    assert list(repeated_windows({"a.py": block, "b.py": "x\n" + block}).values()) == [
        ["a.py:1", "b.py:2"]
    ]
    halves = block.splitlines()
    split = {"a.py": "\n".join(halves[:3]), "b.py": "\n".join(halves[3:])}
    assert repeated_windows({**split, "c.py": block}) == {}


def oracle_digest(con, sql: str) -> str:
    """sha256 of an oracle's output as the oracle check compares it:
    columns sorted by name, values through ``_canon``, rows sorted."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in rel.fetchall())
    return hashlib.sha256(repr((sorted(cols), rows)).encode()).hexdigest()


# oracle output at sf0.001, computed before the kernels were shared
DIGESTS = {
    "pipeline_cluster_topics": "2634fb95e7fbb5a23e69c5a3320b3812630c603aaa91f0c93dffb58e041b20c7",
    "pipeline_sft_packed": "bbc2503fa1baf64d574dc9649edb38f5673301ae1204715afc5c501154c9d369",
    "text_sequence_packing": "a3f2ca7f28aa35a8d9cc6764ac6f72c0006b3c4423f514dcc3476dcd5e9b67c8",
    "sim_knn_ivf": "cc641f1e620ff760f8ba644052287827e899bf615b86a85caa28407190ba89da",
    "sim_knn_ivf_pinned": "d3478318fc403729325d7a2beaf141ff48493c681c6a4f1eaa73f85e7561a6e6",
    "sim_centroid_fit": "53f3f3ef494d1d44383a9999a68286d8835bc2e73574bc62fbb92bc7c82e8ca6",
    "sim_pq_codes": "b33b52a621218a0cd25cf600c65afeda31bc077c13ed2f2dd47ccbbd8085ffe0",
    "sim_knn_pq": "44657880a3a5a236c4470d73a873bd2c8428f1f0da85405263eeab87d19abfc2",
    "sim_knn_ivf_pq": "f0640b3d904c539a565e2bdead7fb5530ec130528a7402e9a8ab96b804c05106",
    "sim_knn_ivf_pq_residual": "6386716c142f2f295bcb78dea4e421ed01fd1449ebb23286c9206961fab6fa9a",
    "sim_semantic_dedup": "e55b65e9594d96b606339e4301d1e6d81102d70fe8b09ca842676af50244955f",
    "dedup_embedding_cosine": "3a1213335d8b222c4859c52d82543fc6ae6f1c11519a76e2d79d0434d79b0355",
    "text_pii_scan": "093fe88b49e8314ffcad19cc838ceb1e94530fba40ae79edfd132819cb6d0acd",
    "text_pii_scan_planted": "afb3422fa6fe2109ad3def696ce62fdcae84f7bfa740c2ff3e8330f5a94a60ca",
    "text_unigram_logprob": "ab1323779db41a601ff4a297c5a9d85a1e467f254fd26893ddd6cf4cdc56a3e5",
    "text_bigram_logprob": "b603e7f8af195d08ab65b977f07fe8a20157eea3b9c511cc312618c05fd68e0b",
    "multimodal_audio_samples": "719667433f1c66aae92df15b8fd60610fdec135e90512ed36fba077d585a3f2b",
    "multimodal_audio_samples_adpcm": "6171b021fd480db2657a2733322e4dc8a5c7f92c0d23fec99e0681513b38f864",
    "multimodal_audio_samples_g711": "c2bcf63604abd9e63542bf382da7ea470145b33aea7f4d53bda65b9093d74b16",
    "multimodal_frame_sample": "aad8edb5cd6813fc866c0888dc953a5b6e82a514b4f18febfc5eebd08910e771",
    "multimodal_frame_sample_mp4": "53c5a607bd42b2291b2467ec01a0a3f0dca1de78d926037f87042021d8f0565f",
    "multimodal_frame_sample_mkv": "a25419449f8c301f64c92b9b160c4fbe17a6283f084f309c832035dfe01d6ad3",
    "multimodal_frame_pixels": "de82080f5f08800a2b605d415160070f0252b1bda35f3cb87551cb8cae1a1cf2",
    "multimodal_image_pixels": "085069795cb6274d0ca945dcaa0561ebbcc73720d0e6793d126f18faca1c39ce",
    "multimodal_image_resize": "08004a4f2cda633a019ed9f2468323f70aacf415eca8e4a178f859265c53738b",
}


def _oracles():
    from nreadability_spark.operators import multimodal, similarity, textops
    from nreadability_spark.plans import pipeline

    return {
        **similarity.ORACLES, **textops.ORACLES, **multimodal.ORACLES, **pipeline.ORACLES
    }


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"test data not present: {SF_DIR}")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_oracle_digest(duck, name):
    assert oracle_digest(duck, _oracles()[name]) == DIGESTS[name]
