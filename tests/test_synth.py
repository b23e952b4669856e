"""The generated stand-in for the reference eval set (kg.synth)."""

from collections import Counter

from kg.synth import ANCHOR_LINES, TAG_MIX, generated_sentences


def test_generated_sentences_shape():
    lines = generated_sentences()
    assert lines == generated_sentences()  # deterministic
    assert len(lines) == 4365 and lines[: len(ANCHOR_LINES)] == list(ANCHOR_LINES)
    segs = [seg.split("/") for line in lines for seg in line.split(" ")]
    assert all(len(s) == 2 and s[0] for s in segs)  # exactly one '/' per segment
    tags = Counter(tag for _, tag in segs)
    assert set(tags) == set(TAG_MIX)
    total, want_total = sum(tags.values()), sum(TAG_MIX.values())
    for tag, n in TAG_MIX.items():
        assert abs(tags[tag] / total - n / want_total) < 0.02, tag
    # Zipf reuse, and one-character near-duplicates for linking to merge
    mentions = Counter(w for w, tag in segs if tag != "o")
    assert mentions.most_common(1)[0][1] > 100
    surfaces = set(mentions)
    assert sum(w[:-1] in surfaces for w in surfaces if len(w) >= 4) >= 10
