"""Byte-identity and core-time A/B of the extraction core against a git revision.

Usage: python tools/core_ab.py REV [--time-seeds 7001]

REV's ``nreadability_spark/core`` is read with ``git show`` into a temp
directory as a renamed package, so both cores live in one process:

1. *Identity.* Every input runs through both cores three ways: full
   ``extract()`` with a page URL and every serialized output, and the two
   calls the extraction UDF makes (``outputs=("content_html",)`` and
   ``outputs=()``, no URL; an exception becomes the UDF's
   ``"Type: message"`` error text). The inputs are the non-empty turns of
   perfbench ``transcripts`` input (``perfbench/workloads.py``) at each
   seed in ``SEEDS`` plus ``SOUPS`` seeded tag soups built from the
   constructs where HTML tokenizers disagree. One sha256 per core over all outputs is printed
   with the count of inputs whose outputs differ.
2. *Core time.* ``ROUNDS`` interleaved rounds; each times both cores,
   in alternating order, over the rows the UDF hands to the core (text
   with markup, not PDF) at ``--time-seeds``, first the parse alone and
   then ``extract(..., outputs=())``. Both run on the same host in the
   same minutes, so the per-round ratio (working tree / REV) cancels the
   host-speed swing that single timings carry. The median ratio, its
   quartiles and the rounds the working tree won are printed.
3. *Phase split.* ``ROUNDS`` more interleaved rounds of the same
   ``extract`` call, with the phases of ``PHASES`` timed by wrappers
   this tool installs on each core's functions for the round (the core
   carries no timer). A phase counts the time from entering its
   outermost function to leaving it; a phase function called inside
   another phase counts toward the outer one, and ``other`` is the time
   outside every phase. Per phase, the working tree's median share of
   core time is printed beside the per-round ratio (working tree / REV).

Exit status is 1 when any output differs.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _path in (_REPO_DIR, os.path.join(_REPO_DIR, "perfbench")):
    if _path not in sys.path:
        sys.path.insert(0, _path)

CORE = "nreadability_spark/core"
BASE_PACKAGE = "_core_ab_base"
PAGE_URL = "http://synth.example/conv00000001/page/1"
SEEDS = (7001, 7002, 7003)
SOUPS = 6000
ROUNDS = 12

# the phases of one core pass, in the order a pass runs them: a name and
# the transcoder attribute ("_Run.x" for a method) whose outermost calls
# make up the phase; "text+spans" is the article's inner text that
# ``transcode`` takes and the spans ``extract`` cuts from it
PHASES = (
    ("parse", "build_document"),
    ("prepare_document", "_Run.prepare_document"),
    ("title", "_Run.extract_article_title"),
    ("strip_unlikely_candidates", "_Run.strip_unlikely_candidates"),
    ("candidates", "_Run.find_candidates_for_article_content"),
    ("top candidate", "_Run.determine_top_candidate_element"),
    ("article build", "_Run.create_article_content_element"),
    ("post-clean", "_Run.prepare_article_content_element"),
    ("text+spans", "_Run.get_inner_text"),
    ("text+spans", "_article_spans"),
)

# the constructs on which tokenizers differ across Python versions, the
# stdlib's error and recovery cases, start tags the tokenizer's fast path
# takes and near misses it leaves to the general path, every kind of
# whitespace the
# inner-text normalization tells apart (ASCII and not, literal and as a
# character reference), and enough prose to pass the 250-character
# fallback threshold
SOUP_PIECES = (
    "<p>", "</p>", "<div>", "</div>", "<div class='sidebar' id=x>", "<span>", "</span>",
    "<a href=\"/p?a=1&copy=2\">", "<a href='x'>", "</a>", "<b/>", "<br>", "<br/>", "<br><br>",
    "<font>", "</font>", "<img src=i.png>", "<h1>", "</h1>", "<h2>", "</h2>", "<ul><li>",
    "</li></ul>", "<table><tr><td>", "</td></tr></table>", "<form>", "<object>", "<embed>",
    "<iframe>", "</iframe>", "<xmp>", "</xmp>", "<noembed>", "<noframes>", "<title>", "</title>",
    "<textarea>", "</textarea>", "<script>", "</script>", "<style>", "</style>", "</SCRIPT >",
    "<html>", "</html>", "<head>", "<body>", "</body>", "<!-- c -->", "<!-- c --!>", "<!--",
    '<div id="main" class="post">', '<a href="#" title="">', '<p class="x"/>', '<A Href="X">',
    '<span id="a" id="b">', '<script type="text/javascript">', '<style media="all">',
    '<img src="i.png" alt="a&amp;b">', '<p\xa0class="x">',
    "<!>", "<!doctype html>", "<?pi>", "<![CDATA[x]]>", "<![if x]>", "<![endif]>", "<![foo[",
    "<a", "</a", "</ p>", "</>", "< p>", "<a/b>", "<a\x00b>", "\x00", "&amp;", "&copy", "&#65;",
    "&bogus;", "&", "<", ">", "='", '"', " ", "\n", "\t", "\r\n", "\x0b", "\x0c", "\x1c", "\xa0",
    "\u3000", "&nbsp;", "&#9;", "Größe",
    "Readable sentence, with commas, that scores well in the candidate pass. ",
    "More article text, plenty of commas, excellent content quality here. ",
)


def load_base_core(rev, tmp):
    """Import REV's core as ``_core_ab_base``; returns (dom, transcoder)."""
    names = subprocess.run(
        ["git", "-C", _REPO_DIR, "ls-tree", "--name-only", rev, CORE + "/"],
        check=True, capture_output=True, text=True,
    ).stdout.split()
    pkg = os.path.join(tmp, BASE_PACKAGE)
    os.makedirs(pkg)
    for path in names:
        if not path.endswith(".py"):
            continue
        source = subprocess.run(
            ["git", "-C", _REPO_DIR, "show", f"{rev}:{path}"],
            check=True, capture_output=True, text=True,
        ).stdout
        with open(os.path.join(pkg, os.path.basename(path)), "w", encoding="utf-8") as f:
            f.write(source.replace("nreadability_spark.core", BASE_PACKAGE))
    sys.path.insert(0, tmp)
    return (importlib.import_module(BASE_PACKAGE + ".dom"),
            importlib.import_module(BASE_PACKAGE + ".transcoder"))


def transcripts_texts(seed):
    """The non-empty turns of perfbench's ``transcripts`` input at ``seed``."""
    import workloads

    workload = workloads.Transcripts(seed)
    workload.rows = workload.make_rows()
    return workload.texts()


def tag_soups(n, seed=0):
    rng = random.Random(seed)
    return ["".join(rng.choice(SOUP_PIECES) for _ in range(rng.randint(0, 60))) for _ in range(n)]


def outputs_of(transcoder, text):
    """Every output the full extract and the UDF's two calls produce."""
    out = []
    for url, outputs in ((PAGE_URL, ("html", "content_html")), (None, ("content_html",)), (None, ())):
        try:
            r = transcoder.extract(text, url, None, outputs=outputs)
            out.append((r.html, r.content_html, r.content_text, r.title, r.extracted,
                        r.next_page_url, r.spans))
        except Exception as exc:  # noqa: BLE001 — the UDF turns it into the row's error
            out.append(f"{type(exc).__name__}: {exc}"[:500])
    return repr(out).encode("utf-8", "surrogatepass")


def identity(base, work, inputs):
    h_base, h_work = hashlib.sha256(), hashlib.sha256()
    differ = []
    for i, text in enumerate(inputs):
        a, b = outputs_of(base, text), outputs_of(work, text)
        h_base.update(a)
        h_work.update(b)
        if a != b:
            differ.append(i)
    return h_base.hexdigest(), h_work.hexdigest(), differ


def timed(fn, rows):
    t = time.perf_counter()
    for text in rows:
        fn(text)
    return time.perf_counter() - t


def core_time_ratios(base, work, rows, rounds):
    """Per-round (working tree / base) time ratios for the parse and the
    UDF's core call, the two trees alternating which runs first."""
    phases = {
        "parse": (base[0].build_document, work[0].build_document),
        "extract": (lambda t: base[1].extract(t, None, None, outputs=()),
                    lambda t: work[1].extract(t, None, None, outputs=())),
    }
    ratios = {name: [] for name in phases}
    for r in range(rounds):
        for name, (fb, fw) in phases.items():
            if r % 2:
                tw, tb = timed(fw, rows), timed(fb, rows)
            else:
                tb, tw = timed(fb, rows), timed(fw, rows)
            ratios[name].append(tw / tb)
    return ratios


def _phase_owner(transcoder, attr):
    """(object holding ``attr``, its name there), or None when this core
    has no such attribute."""
    owner, _, name = attr.rpartition(".")
    holder = getattr(transcoder, owner, None) if owner else transcoder
    return (holder, name) if hasattr(holder, name) else None


@contextmanager
def phase_timers(transcoder, totals):
    """Time ``PHASES`` of ``transcoder`` into ``totals`` (phase -> s)
    while the block runs; the originals are back afterwards."""
    active = []

    def wrap(phase, fn):
        def timed(*args, **kwargs):
            if active:
                return fn(*args, **kwargs)
            active.append(phase)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[phase] += time.perf_counter() - t
                active.pop()
        return timed

    saved = []
    for phase, attr in PHASES:
        holder, name = _phase_owner(transcoder, attr)
        original = holder.__dict__[name]
        saved.append((holder, name, original))
        setattr(holder, name, wrap(phase, original))
    try:
        yield
    finally:
        for holder, name, original in reversed(saved):
            setattr(holder, name, original)


def phase_split(base, work, rows, rounds):
    """Per-round phase seconds of ``extract(..., outputs=())`` over
    ``rows`` for both cores, alternating which runs first; returns
    ``{"base": [...], "work": [...]}`` of phase -> seconds dicts, each
    with an ``other`` entry and the round's ``total``."""
    runs = {"base": [], "work": []}
    for r in range(rounds):
        order = (("work", work), ("base", base)) if r % 2 else (("base", base), ("work", work))
        for side, transcoder in order:
            totals = defaultdict(float)
            with phase_timers(transcoder, totals):
                total = timed(lambda t: transcoder.extract(t, None, None, outputs=()), rows)
            totals["other"] = total - sum(totals.values())
            totals["total"] = total
            runs[side].append(totals)
    return runs


def print_phase_split(runs, rev):
    phases = list(dict.fromkeys(name for name, _ in PHASES)) + ["other"]
    print(f"phase split, share of the working tree's core time and working tree / {rev}:")
    for phase in phases:
        share = statistics.median(w[phase] / w["total"] for w in runs["work"])
        ratios = [w[phase] / b[phase] for w, b in zip(runs["work"], runs["base"]) if b[phase] > 0]
        ratio = summarize(ratios) if len(ratios) >= 2 else "n/a"
        print(f"  {phase:<26} {share:6.1%}  {ratio}")


def summarize(ratios):
    q1, med, q3 = statistics.quantiles(ratios, n=4)
    wins = sum(1 for x in ratios if x < 1.0)
    return f"median {med:.3f} (IQR {q1:.3f}-{q3:.3f}), working tree faster in {wins}/{len(ratios)}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev")
    ap.add_argument("--time-seeds", type=int, nargs="*", default=[7001])
    args = ap.parse_args(argv)

    from workloads import is_markup_free

    from nreadability_spark.core import dom, transcoder
    from nreadability_spark.core.pdf import looks_like_pdf

    with tempfile.TemporaryDirectory() as tmp:
        base = load_base_core(args.rev, tmp)
        work = (dom, transcoder)

        texts = {seed: transcripts_texts(seed) for seed in set(SEEDS) | set(args.time_seeds)}
        inputs = [t for seed in SEEDS for t in texts[seed]] + tag_soups(SOUPS)
        h_base, h_work, differ = identity(base[1], work[1], inputs)
        print(f"identity: {len(inputs)} inputs, {len(differ)} differ; "
              f"sha256 {args.rev} {h_base[:16]} working tree {h_work[:16]}")
        for i in differ[:5]:
            print(f"  differs: {inputs[i][:120]!r}")

        rows = [t for seed in args.time_seeds for t in texts[seed]
                if not is_markup_free(t) and not looks_like_pdf(t)]
        ratios = core_time_ratios(base, work, rows, ROUNDS)
        print(f"core time over {len(rows)} markup rows, {ROUNDS} rounds, "
              f"working tree / {args.rev}:")
        for name, values in ratios.items():
            print(f"  {name}: {summarize(values)}")

        missing = [attr for _, attr in PHASES if _phase_owner(base[1], attr) is None]
        if missing:
            print(f"phase split skipped: {args.rev} has no {', '.join(missing)}")
        else:
            print_phase_split(phase_split(base[1], work[1], rows, ROUNDS), args.rev)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
