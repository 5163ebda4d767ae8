"""Tests of the benchmark's own parts: the seeded generators and the
Spark metric-string parser, and the stopping of left-over processes.
Spark-free; run with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib

import subprocess

import procs
from docs import generate_documents
from pages import ARTICLE_MARK, BOILERPLATE_MARK, MAX_BYTES, generate_pages, page_sizes
from sparkrest import parse_metric


def _digest(pages) -> str:
    h = hashlib.sha256()
    for p in pages:
        h.update(p.doc_id.encode() + b"\0" + p.html.encode() + b"\0")
        h.update(repr((p.article_marks, p.boilerplate_marks)).encode())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_pages():
    assert _digest(generate_pages(7, 40)) == _digest(generate_pages(7, 40))
    assert _digest(generate_pages(7, 40)) != _digest(generate_pages(8, 40))


def test_planted_truth_matches_the_html():
    pages = generate_pages(3, 60)
    for p in pages:
        body_start = p.html.index('<div class="entry-content">')
        body_end = p.html.index('<div class="related-posts">')
        body = p.html[body_start:body_end]
        outside = p.html[:body_start] + p.html[body_end:]
        # every planted marker occurs exactly once, on its side of the article body
        assert sorted(ARTICLE_MARK.findall(body)) == sorted(p.article_marks)
        assert ARTICLE_MARK.findall(outside) == []
        assert sorted(BOILERPLATE_MARK.findall(outside)) == sorted(p.boilerplate_marks)
        assert BOILERPLATE_MARK.findall(body) == []
        assert p.article_marks and p.boilerplate_marks
        assert len(p.html) <= MAX_BYTES + 64_000


def test_short_articles_stay_under_the_grab_threshold():
    import re

    pages = generate_pages(5, 100)
    short = [p for p in pages if p.short_article]
    assert len(short) == 12
    for p in short:
        body = p.html.split('<div class="entry-content">', 1)[1].split("</div>", 1)[0]
        assert len(re.sub(r"<[^>]+>", "", body)) < 500


def test_every_seed_gets_the_same_sizes():
    sizes = page_sizes(100)
    assert sizes == sorted(sizes) and sizes[-1] == MAX_BYTES
    assert 110_000 < sizes[50] < 120_000
    assert 190_000 < sum(sizes) / len(sizes) < 210_000
    for seed in (1, 2):
        got = sorted(len(p.html) for p in generate_pages(seed, 100))
        # pages overshoot their target by at most one comment block
        assert all(0 <= g - s < 2_000 for g, s in zip(got, sizes))


def test_documents_are_seeded():
    a, b = generate_documents(4, 300), generate_documents(4, 300)
    assert a.equals(b)
    assert not a.equals(generate_documents(5, 300))
    texts = a["text"].to_pylist()
    assert all(10 <= len(t.split()) <= 101 for t in texts)
    assert sum(t.endswith(" dup") for t in texts) >= 10


def test_parse_metric_strings():
    p = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "12.3 s (1.0 s, 2.0 s, 3.1 s (stage 4.0: task 17))")
    assert p["total"] == 12.3 and p["max"] == 3.1 and p["max_stage"] == (4, 0)
    p = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "1834.8 KiB (455.5 KiB, 456.7 KiB, 466.6 KiB (stage 9.1: task 11))")
    assert abs(p["total"] - 1834.8 * 1024) < 1e-6 and p["max_stage"] == (9, 1)
    assert parse_metric("403 ms")["total"] == 0.403
    assert parse_metric("2,000")["total"] == 2000
    assert parse_metric("1.5 m")["total"] == 90.0
    assert parse_metric("0.0 B")["max_stage"] is None


def test_stop_descendants_waits_for_orphaned_grandchildren():
    procs.become_subreaper()
    # the shell exits at once and leaves its background sleep orphaned,
    # the way the JVM leaves its Python workers when it exits
    subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
    assert len(procs.descendants()) == 1
    procs.stop_descendants(grace_s=5)
    assert procs.descendants() == []
