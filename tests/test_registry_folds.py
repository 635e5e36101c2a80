"""Guards for the shared query kernels of the registry operator modules.
No Spark is started.

- The ADC kNN searches, the LM logprob pair and the media twins each
  run one builder and one SQL template, and the blocked prefix sums one
  helper. ``test_no_repeated_windows`` keeps each of the three operator
  modules that way, and ``test_no_repeated_windows_across_package`` the
  whole package: a block of six lines copied within a module or across
  two fails it.
- ``test_oracle_digest`` pins the DuckDB side of every query built on
  those kernels, and of every query whose parameters became module
  constants, to a digest of its output at sf0.001. The oracle check
  compares Spark with DuckDB only, so a refactor that changed a
  builder and its SQL twin the same way would pass it; it fails here.
- ``test_registry_queries_take_only_spark_and_sf_dir`` keeps every
  registry builder at ``(spark, sf_dir)`` and every public ``*_sql``
  twin free of defaulted parameters: a query's parameter is one module
  constant that both sides read.
- ``test_training_ready_twin_composes_decontaminate`` and
  ``test_sft_packed_twin_composes_turns_and_packing`` keep a composed
  DuckDB twin built from the twin of each query its Spark side
  composes, so a rule is written once per side.
"""

import collections
import glob
import hashlib
import inspect
import os
import sys

import pytest

from tests.test_operators import SF_DIR
from tools import check_oracles

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
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
    rows = sorted(tuple(check_oracles._canon(r[i]) for i in order) for r in rel.fetchall())
    return hashlib.sha256(repr((sorted(cols), rows)).encode()).hexdigest()


# oracle output at sf0.001, computed before the kernels were shared and
# before the query parameters became module constants
DIGESTS = {
    "pipeline_cluster_topics": "2634fb95e7fbb5a23e69c5a3320b3812630c603aaa91f0c93dffb58e041b20c7",
    "pipeline_sft_packed": "bbc2503fa1baf64d574dc9649edb38f5673301ae1204715afc5c501154c9d369",
    "text_sft_spans": "7e896860d5d24576a35f764a958d124442c7d9c4967a78ee7b765c65ae667b59",
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
    "text_fingerprints": "ee245a0f0da8977a568eb07e65e312d7f78b9126f7358f4aeb803dd25c765081",
    "text_lang_id": "a909ee3ab292ce10424b73ffe491ee5bccba4efab9de508698c4f157cb101854",
    "text_bottomk_containment": "0831ce87ea5e06c593708072a05af1be73b27f840546365ddca19d46f7ae7164",
    "text_decontaminate": "b54d0abd9d0f5ae03957b92dc9ca2dfa613a7666d8fbfa17cd875daaa17070ff",
    "text_decontaminate_bloom": "e24fa9709a43930d5ed5656291bdabfa664f3b196c68e69d1c0acf870e348fa5",
    "text_token_cms": "8fb6d5d112f390425c72dcb18b4f607d2e76d0420cb5f766d8929f1f8a5e8eed",
    "text_hashed_embeddings": "a55fd35f04f4e708410984cea0d69116baa6bd8d400d980f63ebb3a66a6b9249",
    "text_train_val_split": "fe1131c9828fb9b56131566dafdd59f6db409c64818420f3bd377fc7296c77a4",
    "text_repetition": "7c7f7faabf44800456b7d243bd1d0fe1c111753a6db88735a23380369409b99a",
    "text_line_dedup": "a22b87c7e4db700501b3a7c23206d75b99e54fa489f6911050975e535b4b0148",
    "text_span_dedup": "e21a621dcdded05a2b5e0c54d6af85ef41caef8ec568495e0822a526f6e58383",
    "text_tfidf_keywords": "be32b721c2c01ae80fc022e112f28e93b4b74bd4c2ee04a7dede0af4fcee9cee",
    "text_stratified_sample": "feb892f45ab4159c5c7cc60d885ae436406819cfa4ae9e1436517e89e880cebe",
    "text_dsir_select": "12f1f145aaf82b64455982a454dd61ad5a59700e15022e37486c025cb0c3ae4d",
    "text_bpe_fit": "71734a295dfebda8a67e75767e0c0b4aa62ae42a51661d2093b13756bb6140b0",
    "text_bpe_encode": "82fc2b32cbc96bbf795eaeb84a454ca0e4424c8a2c4d8a5c15e60f383b1c6ff8",
    "text_quality_classifier_fit": "25db5bfb9ba3becd8b882aa9b43be3f583129ba663eea71276930b94b44724a7",
    "text_quality_classifier_apply": "5d3b790debba33b371f13ba541ba863538338e8169aad1c44c067722700c9153",
    "dedup_ngram_jaccard": "08e2f7b5f5cad06417eeb17209d1bdea295f51b9f811f86d150064b6e267baf1",
    "dedup_minhash_lsh": "b1880d18713b1908efa7c4cac1e142fa1678dab30ee25bda48e8416dd3946ec0",
    "dedup_simhash": "e19612e3e1118b0bc78be1286bd408630f55930b24189ae3d46de3cbf3586e71",
    "dedup_components": "59cac4072c0ac6d1b6e7e9be353550e6bb0c05259df69a1f63589c9d044159c1",
    "sim_knn_brute_force": "08ed163205bd84fe184fefb924c9f7b2f260b0f1be7618b7f3aa59cb6641fa51",
    "pipeline_clean_corpus": "2d0dbeae63ab03da0b74819804aab3f771989844831e446c13baabcd104992a9",
    "pipeline_training_ready": "0c7140364ed8c4db3ea5c1e45ab248571608f4c5a3757a5b957b810362700ae3",
    "rel_top_orders": "5018ecfc09bfae65d750f519b9bb72c10a3ee91ffdaf01a9f56da6bff035c267",
    "rel_user_event_sequences": "5faa10fab7177fc7a04f435fc835dc07103dd9bad4914ac9e7ece227b00949fd",
    "rel_event_sessions": "bc4a489f96078bd7b272570050595c5627e9103af37d9cf8d2346f9edd1fcbe6",
    "rel_big_spenders": "e57c9653ccc2c58d859e6a03a11383475fede68306a503982ff93e17c04d8164",
    "rel_price_quantiles_approx": "25bccd9317d41e3299e56e12fc97628e3a7f21cc25929b6c7c39b79a35655177",
    "rel_approx_distinct": "cb86256867e312cd9ba5e6a7a6a815a3ce028ec42077504182347345b361ffa2",
}


def _registries():
    import __spark_entry__

    return __spark_entry__._registries()


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"test data not present: {SF_DIR}")
    with check_oracles.duck(SF_DIR) as con:
        yield con


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_oracle_digest(duck, name):
    assert oracle_digest(duck, _registries()[1][name]) == DIGESTS[name]


def test_registry_queries_take_only_spark_and_sf_dir():
    """Lists each builder parameter past ``(spark, sf_dir)`` and each
    defaulted parameter of a public ``*_sql`` function, as
    ``module.function(parameter)``."""
    builders = set(_registries()[0].values())
    modules = {sys.modules[fn.__module__] for fn in builders}
    assert len(modules) == 9
    twins = {
        fn
        for m in modules
        for name, fn in vars(m).items()
        if inspect.isfunction(fn) and fn.__module__ == m.__name__
        and name.endswith("_sql") and not name.startswith("_")
    }
    settable = []
    for fn in builders | twins:
        params = inspect.signature(fn).parameters
        if fn in builders:
            extra = list(params)[2:]
            assert list(params)[:2] == ["spark", "sf_dir"], fn
        else:
            extra = [p for p, v in params.items() if v.default is not inspect.Parameter.empty]
        settable += [f"{fn.__module__}.{fn.__name__}({p})" for p in extra]
    assert not settable, f"{len(settable)} settable values:\n" + "\n".join(sorted(settable))


def test_training_ready_twin_composes_decontaminate():
    from nreadability_spark.operators import textops
    from nreadability_spark.plans import pipeline

    assert textops.decontaminate_sql() in pipeline.training_ready_sql()


def test_sft_packed_twin_composes_turns_and_packing():
    from nreadability_spark.operators import textops
    from nreadability_spark.plans import pipeline

    turns = textops.sft_turns_sql()
    assert turns in textops.sft_spans_sql() and turns in pipeline.sft_packed_sql()
    assert textops.packed_sql("toks", "doc_id", "n_tokens", textops.PACK_BUDGET) in (
        textops.sequence_packing_sql()
    )
    assert textops.packed_sql(
        "conv", "conv_id", "example_len", pipeline.SFT_PACK_BUDGET
    ) in pipeline.sft_packed_sql()
