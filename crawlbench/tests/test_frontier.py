"""The frontier_bulk oracle on inputs small enough to check by hand."""

from __future__ import annotations

import pandas as pd

from crawlbench import frontier as fb


def _input(rows, seen):
    df = pd.DataFrame(
        rows, columns=["url", "canon", "source", "line_no", "link_idx", "attempt", "crawl_delay"]
    )
    df["stage"] = fb.STAGE
    return fb.FrontierInput(df, list(df.pop("canon")), seen)


def test_plan_by_hand():
    a, b = "http://a.example/x", "http://b.example/y"
    seen_url = "http://a.example/seen"
    inp = _input(
        [
            (a, a, "weixin", 0, 0, 0, 1.0),
            # the same URL spelled irregularly; chuansongmen sorts before
            # weixin in first-occurrence order, so this spelling wins
            ("HTTP://A.EXAMPLE/x", a, "chuansongmen", 0, 1, 0, 0.5),
            ("http://chuansong.me/n/513", "http://chuansong.me/n/513", "tianyan", 0, 2, 0, 1.0),
            (seen_url, seen_url, "tianyan", 0, 3, 0, 1.0),  # already seen
            (seen_url, seen_url, "weixin", 0, 4, 1, 2.0),  # its retry bypasses the seen set
            (b, b, "tianyan", 0, 5, 0, 0.25),
        ],
        [seen_url],
    )
    plan = fb.plan(inp, n_salts=1)
    assert (plan.robots_blocked, plan.batch_duplicates, plan.seen_drops) == (1, 1, 1)
    # host a, scheduled by (source rank, line, stage, page, link, attempt):
    # the weixin retry (rank 0) before the chuansongmen row (rank 1)
    assert plan.rows == {
        (seen_url, 1): (0, 1, 0.0),
        ("HTTP://A.EXAMPLE/x", 0): (0, 2, 2.0),
        (b, 0): (0, 1, 0.0),
    }


def test_check_accepts_the_plan_and_names_a_difference():
    plan = fb.Plan({("http://a.example/x", 0): (1, 1, 0.0)}, 0, 0, 0)
    got = pd.DataFrame(
        {"url": ["http://a.example/x"], "attempt": [0], "host_salt": [1],
         "host_rank": [1], "host_scheduled_at": [0.0]}
    )
    assert fb.check(plan, got) is None
    got.loc[0, "host_rank"] = 2
    assert "oracle (1, 1, 0.0)" in fb.check(plan, got)
    assert "scheduled 0 rows" in fb.check(plan, got.iloc[:0])


def test_generated_input_has_the_stated_shape():
    inp = fb.generate(seed=7, n_rows=4000)
    f = inp.frontier
    assert len(f) == 4000 and len(inp.seen_urls) >= 4000
    hot = f["url"].str.lower().str.contains(fb.HOT_HOST).mean()
    irregular = (f["url"] != pd.Series(inp.canon)).mean()
    assert 0.4 < hot < 0.6
    assert 0.07 < irregular < 0.13
    assert abs((f["attempt"] > 0).mean() - fb.SHARE_RETRY) < 0.01
    plan = fb.plan(inp, n_salts=4)
    assert plan.robots_blocked > 0 and plan.batch_duplicates > 0
    assert abs(plan.seen_drops / len(f) - fb.SHARE_SEEN) < 0.015
    # same seed, same input
    assert fb.generate(seed=7, n_rows=4000).frontier.equals(f)
    # every (host, salt) queue is ranked 1..k
    queues: dict = {}
    for (url, _), (salt, rank, _) in plan.rows.items():
        host = url.split("/")[2].lower().split(":")[0]
        queues.setdefault((host, salt), []).append(rank)
    for ranks in queues.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
