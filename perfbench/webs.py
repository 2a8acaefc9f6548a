"""The crawl workload's synthetic web, written again in plain Python.

`Webs.scala` builds the pages the program fetches; this module writes the
same pages from the same (seed, page) rule without any program code, so the
checks can list every URI a fetched page holds.
"""
import bisect
import hashlib
import re

M64 = (1 << 64) - 1
TITLE = "http://purl.org/dc/terms/title"
REFS = "http://purl.org/dc/terms/references"
URI = re.compile(r"<([^>]*)>")


def mix(x):
    h = ((x & M64) * 0x9E3779B97F4A7C15) & M64
    h ^= h >> 32
    h = (h * 0xBF58476D1CE4E5B9) & M64
    h ^= h >> 29
    return h & 0x7FFFFFFFFFFFFFFF


def salt(seed):
    return mix(seed + 0x632BE59BD9B4E019)


def page(self_url, title, targets):
    lines = [f'<{self_url}> <{TITLE}> "{title}" .']
    lines += [f"<{self_url}> <{REFS}> <{t}> ." for t in targets]
    return "\n".join(lines) + "\n"


def uris(body):
    """Every URI written into a Turtle body, in any triple position."""
    return set(URI.findall(body))


class ZipfWeb:
    def __init__(self, seed, hosts, top, links):
        self.seed, self.hosts, self.links, self.s = seed, hosts, links, salt(seed)
        self.offsets = [0]
        for h in range(hosts):
            self.offsets.append(self.offsets[-1] + max(2, top // (h + 1)))
        self.pages = self.offsets[-1]
        self._url = re.compile(rf"http://z(\d+)\.s{seed}\.zipf\.test/p(\d+)\.ttl$")

    def url(self, d):
        h = bisect.bisect_right(self.offsets, d) - 1
        return f"http://z{h}.s{self.seed}.zipf.test/p{d - self.offsets[h]}.ttl"

    def doc(self, url):
        """Page number of a URL, or None for a URL outside the web (the
        predicate URIs are crawled too, and fail)."""
        m = self._url.match(url)
        return self.offsets[int(m.group(1))] + int(m.group(2)) if m else None

    def host(self, url):
        return url.split("/")[2]

    def body(self, d):
        return page(self.url(d), f"Zipf page {d}",
                    (self.url(mix(self.s ^ (d * 197 + j * 13 + 7)) % self.pages)
                     for j in range(self.links)))

    def seed_urls(self):
        return [self.url(self.offsets[h]) for h in range(self.hosts)]


def url_hash(url):
    """SHA-256 of the URL in hex, cut to 32 characters."""
    return hashlib.sha256(url.encode()).hexdigest()[:32]


def digest(urls):
    """Order-independent digest of a URL set, as the JVM side computes it
    over the frontier's url_hash column."""
    a = b = 0
    n = 0
    for u in urls:
        h = url_hash(u)
        a += int(h[:10], 16)
        b += int(h[10:20], 16)
        n += 1
    return {"count": n, "a": a, "b": b}
