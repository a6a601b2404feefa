"""Property tests of ``canonicalize_url``: idempotence and a preserved
query-parameter multiset over generated URLs."""

from __future__ import annotations

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    from web_crawling_prj_spark.functions.urls import canonicalize_url

    url_strategy = st.builds(
        lambda scheme, host, port, segs, q, frag: (
            f"{scheme}://{host}{port}/" + "/".join(segs) + (("?" + "&".join(q)) if q else "") + (("#" + frag) if frag else "")
        ),
        scheme=st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
        host=st.from_regex(r"[A-Za-z0-9]([A-Za-z0-9\-]{0,10}[A-Za-z0-9])?(\.[A-Za-z]{2,5}){1,2}", fullmatch=True),
        port=st.sampled_from(["", ":80", ":443", ":8080"]),
        segs=st.lists(st.sampled_from(["a", "b", "..", ".", "x%2Fy", "p%61th", "café"]), max_size=5),
        q=st.lists(st.sampled_from(["a=1", "b=2", "a=", "flag", "z=%7e"]), max_size=4),
        frag=st.sampled_from(["", "frag", "a/b"]),
    )

    @settings(max_examples=300, deadline=None)
    @given(url=url_strategy)
    def test_canonicalize_idempotent_property(url):
        c = canonicalize_url(url)
        assert canonicalize_url(c) == c
        # canonical urls never carry fragments or uppercase scheme/host
        assert "#" not in c
        head = c.split("/", 3)[2] if "://" in c else c
        assert head == head.lower()

    @settings(max_examples=100, deadline=None)
    @given(url=url_strategy)
    def test_canonicalize_preserves_query_multiset(url):
        from urllib.parse import urlsplit

        c = canonicalize_url(url)
        n_raw = len([p for p in urlsplit(url).query.split("&") if p])
        n_canon = len([p for p in urlsplit(c).query.split("&") if p])
        assert n_raw == n_canon  # sorting, never dropping
