"""End-to-end fixture corpus: the reference's TestSampleInputs
(NReadabilityTranscoderTests.cs:365-448) run through our extraction core.

Fixture 7 is disabled in the reference (TT:367); we run it for
determinism only. Assertions are the reference's own substring oracles.
"""

from pathlib import Path

import pytest

from nreadability_spark.core import extract
from nreadability_spark.sources import synth

pytestmark = pytest.mark.skipif(
    not synth._FIXTURE_DIR.is_dir(),
    reason=f"reference fixtures unavailable: {synth._FIXTURE_DIR}",
)

EXPECTED_SUBSTRINGS = {
    1: [  # washingtonpost.com
        "The Supreme Court yesterday vacated a lower",
        "The justices did not rule on the merits",
        "But the government said the issues were now",
    ],
    2: [  # devBlogi.pl (Polish diacritics)
        "Moja siostra sprawiła swoim dzieciom szczeniaczka",
        "Z tresowaniem psów jest tak, że reakcja musi być",
        "Korzystając z okazji, chcielibyśmy dowiedzieć się",
    ],
    3: [  # codinghorror.com (junk after </html>)
        "I apologize for the scarcity of updates lately.",
        "Most of all, I blame myself.",
        "And, most of all, thanks to",
    ],
    4: [  # paragraphs-only synthetic page
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit.",
        "Mauris nec massa ante, id fringilla nisi.",
        "Nulla facilisi. Proin lacinia venenatis elit, nec ornare elit varius eu.",
        "Duis vitae ultricies nibh.",
        "Vestibulum dictum iaculis nisl, lobortis luctus justo porttitor eu.",
    ],
    5: [  # mnmlist.com
        "When it comes to minimalism in",
        "Here’s how:",
        "Set limits on your work hours. If your time is limited, you’ll find ways to make the most of that limited time.",
    ],
    6: [  # nbsp sample
        "1.  Item 1.",
    ],
    8: [  # NYTimes
        "freed from house arrest on Saturday, setting her on the path",
        "confrontation with the generals who had kept her out of the public eye",
        "Western capitals was one of celebration",
    ],
    9: [  # udidahan.com (rich sidebar must not win)
        "Not in the business world anyway.",
        "we could look at modeling the acceptance",
        "Keep an eye out.",
    ],
}


def _load(n):
    return (synth._FIXTURE_DIR / f"SampleInput_{n:02d}.html").read_text(encoding="utf-8")


@pytest.mark.parametrize("sample", sorted(EXPECTED_SUBSTRINGS))
def test_sample_inputs(sample):
    result = extract(_load(sample))
    for fragment in EXPECTED_SUBSTRINGS[sample]:
        assert fragment in result.html, f"fixture {sample}: missing {fragment!r}"
    assert result.extracted


def test_sample_input_7_deterministic():
    # disabled in the reference (TT:367); determinism-only oracle here
    a = extract(_load(7))
    b = extract(_load(7))
    assert a == b


def test_frozen_goldens_byte_equality():
    """Frozen-golden regression: our own outputs hashed at freeze time
    (BASELINE.md fixture-match at 100%, byte-equality flavor)."""
    import hashlib
    import json

    goldens = json.loads(Path(__file__).with_name("golden_fixtures.json").read_text())
    for n_str, expected in goldens.items():
        result = extract(_load(int(n_str)))
        assert hashlib.sha256(result.content_text.encode()).hexdigest() == expected["content_text_sha256"], f"fixture {n_str} content_text drifted"
        assert hashlib.sha256(result.html.encode()).hexdigest() == expected["html_sha256"], f"fixture {n_str} html drifted"
        assert result.extracted == expected["extracted"]
        assert result.title == expected["title"]


def test_pretty_serialization_reparses_to_raw_form_on_fixtures():
    """Real-page check of the pretty serializer: indentation whitespace
    must be parse-invisible — for every reference fixture, parsing the
    PRETTY serialization yields the same document as parsing the RAW
    serialization (mixed-content suppression means no whitespace is
    ever injected adjacent to text)."""
    from nreadability_spark.core.dom import build_document, to_pretty_html

    fixtures = synth.load_fixture_payloads()
    assert fixtures, "reference checkout with SampleInput_*.html expected"
    for html in fixtures:
        d = build_document(html)
        raw = d.to_html()
        pretty = to_pretty_html(d)
        assert build_document(pretty).to_html() == build_document(raw).to_html()
