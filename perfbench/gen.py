"""Seeded feed generator: scales the committed fixture feeds.

Replica 0 of every feed is the unmodified fixture content. Replica i >= 1
is a copy whose CVE, advisory and package ids are remapped so that the
same source id maps to the same replica id in every feed and in NVD:

  CVE-2021-9999     -> CVE-2021-9<i:06d>9999   (year kept, so the >= 2014
  RHSA-2021:1234    -> RHSA-2021:9<i:06d>1234   gate behaves the same)
  CGA-0001, CWE-79  -> CGA-9<i:06d>0001, CWE-9<i:06d>79
  GHSA-x            -> GHSA-q<i:06d>q-x
  package openldap  -> p<i:06d>q-openldap        (distro feeds only)

Source ids never have nine or more digits, so a mapped id is always
recognisable and `unmap` in the benchmark driver inverts it. Within one
replica the remap keeps the string order of ids and package names.

Replicas >= 1 also get seeded, advisory-like descriptions drawn from a
word vocabulary, extra fixedIn entries (packages named `zzfan<k>-<pkg>`
in the Ubuntu and Debian feeds) and extra CVE references (sequence
numbers 8000000 and up, in the Amazon bulletin lists). The driver's
replica check drops those additions and ignores the description field.

The file layout follows the real feeds: one OVAL XML per release, one
Ubuntu tracker file per CVE, one OSV JSON per advisory, one NVD JSON per
year. Replica counts are per feed, so bucket sizes differ.
"""
import json
import os
import random
import re
import shutil

FIXTURES = os.path.join("src", "test", "resources", "fixtures")

# Replicas per feed. The repository records only two real feed sizes:
# the reference fails a run below 20,000 RHEL or 1,000 Amazon vulns
# (BASELINE.md: rhel.go:25, amazon.go:22), so CentOS ships 20 rows for
# each Amazon row here. Every other proportion is assumed, not measured:
# Ubuntu, Debian and CentOS are the large buckets at equal size (600
# index rows each, from 4, 6 and 3 rows per replica), Photon and
# Wolfi/Chainguard the small ones. The overall size is what a warm build
# within the benchmark's run budget can carry.
BUILD_FULL = {
    "ubuntu": 150, "debian": 100, "rhel": 200, "alpine": 100,
    "amazon": 30, "oracle": 80, "suse": 80, "mariner": 80,
    "photon": 15, "rocky": 80, "cgosv": 15, "apps": 60,
}

WORDS = (
    "a an the in of to and or via when with without before after could "
    "allow allows remote local attacker attackers user users authenticated "
    "unauthenticated crafted malicious request requests packet packets file "
    "files header headers input length buffer overflow underflow heap stack "
    "out-of-bounds read write use-after-free double free null pointer "
    "dereference integer truncation race condition memory leak denial service "
    "crash execute arbitrary code commands privilege escalation information "
    "disclosure sensitive data bypass validation check certificate signature "
    "verification authentication session cookie token handling parsing parser "
    "function library component module server client daemon kernel driver "
    "network protocol TLS HTTP XML JSON URL path traversal directory symlink "
    "configuration default option versions prior earlier through affected "
    "fixed issue flaw vulnerability improper insufficient incorrect missing "
    "error handling resource consumption loop infinite recursion decompression "
    "archive image font certificate chain key exchange cipher timing side "
    "channel cache pool allocation boundary size limit exceed exceeds trigger "
    "triggers leading resulting cause causes context specially this that "
    "which is are be been may might does not properly ensure sanitize escape"
).split()


_POOL = {}


def pad_text(rng):
    """An advisory-like description of realistic length (60-1500 chars),
    drawn from a seeded pool of 2048 texts."""
    pool = _POOL.get(id(rng))
    if pool is None:
        pool = _POOL[id(rng)] = []
        for _ in range(2048):
            target = min(1500, max(60, int(rng.lognormvariate(5.7, 0.55))))
            t = " ".join(rng.choices(WORDS, k=max(8, target // 7)))
            pool.append(t[0].upper() + t[1:] + ".")
    return pool[rng.randrange(len(pool))]


def mark(i):
    return "9%06d" % i


_NUM_IDS = [
    re.compile(r"\b(CVE|ELSA|ALAS|GO)-(\d{4})-(\d+)\b"),
    re.compile(r"\b(RHSA|RLSA)-(\d{4}):(\d+)\b"),
]
_SHORT_IDS = re.compile(r"\b(CGA|CWE)-(\d+)\b")
_RUBY_CVE = re.compile(r"^(cve: )(\d{4})-(\d+)$", re.M)
_OVAL_IDS = re.compile(r"(oval:[A-Za-z0-9.-]+:(?:def|tst|obj|ste):)(\d+)")
_DEF_IDS = re.compile(r'(<definition [^>]*?\bid=")([a-z]+)(\d+)"')


def remap_ids(text, i):
    """Remap every CVE/advisory/OVAL id in `text` to replica `i`."""
    if i == 0:
        return text
    m = mark(i)
    for rx in _NUM_IDS:
        text = rx.sub(lambda g: "%s-%s%s%s%s" % (
            g.group(1), g.group(2), "-" if g.re is _NUM_IDS[0] else ":", m, g.group(3)), text)
    text = _SHORT_IDS.sub(lambda g: "%s-%s%s" % (g.group(1), m, g.group(2)), text)
    text = _RUBY_CVE.sub(lambda g: "%s%s-%s%s" % (g.group(1), g.group(2), m, g.group(3)), text)
    text = _OVAL_IDS.sub(lambda g: g.group(1) + m + g.group(2), text)
    text = _DEF_IDS.sub(lambda g: '%s%s%s%s"' % (g.group(1), g.group(2), m, g.group(3)), text)
    return text.replace("GHSA-", "GHSA-q%06dq-" % i)


# Names a source adapter treats specially (the Ubuntu upstream namespace
# drops openssl; Photon duplicates expat as expat-libs) keep their name.
KEEP_NAMES = {"ubuntu": {"openssl"}, "photon": {"expat"}}


def pkg(name, i, feed=None):
    if i == 0 or name in KEEP_NAMES.get(feed, ()):
        return name
    return "p%06dq-%s" % (i, name)


def read(rel):
    with open(os.path.join(FIXTURES, rel), encoding="utf-8") as f:
        return f.read()


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def rj(obj, i):
    """Id-remapped deep copy of a JSON value."""
    return obj if i == 0 else json.loads(remap_ids(json.dumps(obj), i))


# ---- distro feeds --------------------------------------------------------

def gen_alpine(k, rng, out):
    doc = json.loads(read("alpine_secdb.json"))
    pkgs = []
    for i in range(k):
        for p in doc["packages"]:
            q = rj(p, i)
            q["pkg"]["name"] = pkg(q["pkg"]["name"], i)
            pkgs.append(q)
    doc["packages"] = pkgs
    write(os.path.join(out, "alpine", "v3.6-main.json"),
          read("alpine_secdb.json") if k == 1 else json.dumps(doc, indent=1))


def gen_debian(k, rng, out):
    for name in ("debian_main.json", "debian_archive.json"):
        doc = json.loads(read(name))
        merged = {}
        for i in range(k):
            for p, cves in doc.items():
                cs = rj(cves, i)
                if i > 0:
                    for c in cs.values():
                        c["description"] = pad_text(rng)
                merged.setdefault(pkg(p, i), {}).update(cs)
                if i > 0 and name == "debian_main.json" and rng.random() < 0.5:
                    # fan-out: the same CVE fixed in an extra package
                    cve = rng.choice(sorted(cs))
                    extra = {cve: json.loads(json.dumps(cs[cve]))}
                    merged.setdefault(pkg("zzfan%d-%s" % (rng.randint(1, 3), p), i), {}).update(extra)
        write(os.path.join(out, "debian", name),
              read(name) if k == 1 else json.dumps(merged, indent=1))


def gen_photon(k, rng, out):
    rows = json.loads(read("photon4.json"))
    res = []
    for i in range(k):
        for r in rows:
            q = rj(r, i)
            q["pkg"] = pkg(q["pkg"], i, "photon")
            res.append(q)
    write(os.path.join(out, "photon", "photon4.json"),
          read("photon4.json") if k == 1 else json.dumps(res, indent=1))


def gen_rocky(k, rng, out):
    doc = json.loads(read("rocky_api.json"))
    advs = []
    for i in range(k):
        for a in doc["advisories"]:
            q = rj(a, i)
            if i > 0:
                q["description"] = pad_text(rng)
                for p in q.get("packages", []):
                    p["package_name"] = pkg(p["package_name"], i)
                    p["nevra"] = pkg(p["nevra"], i)
            advs.append(q)
    doc["advisories"] = advs
    write(os.path.join(out, "rocky", "rocky_api.json"),
          read("rocky_api.json") if k == 1 else json.dumps(doc, indent=1))


_RSS_ITEM = re.compile(r"<item>.*?</item>\s*", re.S)
_RSS_TITLE_PKGS = re.compile(r"(<title>ALAS-[^<]*?\): )([^<]*)(</title>)")
_RSS_DESC = re.compile(r"(<description>)(CVE-[^<]*)(</description>)")
_PAGE_AFFECTED = re.compile(r"(Affected Packages:</b><p>)([^<]*)(</p>)")
_PAGE_NEVRA = re.compile(r"&nbsp;([A-Za-z0-9._+-]+)")
_PAGE_OVERVIEW = re.compile(r"(Issue Overview:</b><p>)([^<]*)(</p>)")


def gen_amazon(k, rng, out):
    rss = read("alas.rss")
    items = _RSS_ITEM.findall(rss)
    head = rss[:rss.index(items[0])]
    tail = rss[rss.index(items[-1]) + len(items[-1]):]
    body = []
    for i in range(k):
        for it in items:
            if i == 0:
                body.append(it)
                continue
            q = remap_ids(it, i)
            q = _RSS_TITLE_PKGS.sub(lambda g: g.group(1) + ", ".join(
                pkg(p.strip(), i) for p in g.group(2).split(",")) + g.group(3), q)
            if rng.random() < 0.5:
                year = re.search(r"ALAS-(\d{4})", q).group(1)
                extra = ", ".join("CVE-%s-%s%d" % (year, mark(i), 8000000 + rng.randint(0, 999))
                                  for _ in range(rng.randint(1, 3)))
                q = _RSS_DESC.sub(lambda g: g.group(1) + g.group(2) + ", " + extra + g.group(3), q)
            body.append(q)
    write(os.path.join(out, "amazon", "alas.rss"), head + "".join(body) + tail)
    pages = os.path.join(FIXTURES, "alas-pages")
    for fn in sorted(os.listdir(pages)):
        page = read(os.path.join("alas-pages", fn))
        for i in range(k):
            q = remap_ids(page, i)
            if i > 0:
                q = _PAGE_AFFECTED.sub(lambda g: g.group(1) + pkg(g.group(2), i) + g.group(3), q)
                q = _PAGE_NEVRA.sub(lambda g: "&nbsp;" + pkg(g.group(1), i), q)
                q = _PAGE_OVERVIEW.sub(lambda g: g.group(1) + pad_text(rng) + g.group(3), q)
            write(os.path.join(out, "amazon", "pages", remap_ids(fn, i)), q)


_OVAL_SECTION = re.compile(r"(<(definitions|tests|objects|states)>)(.*?)(</\2>)", re.S)
_OVAL_COMMENT_PKG = re.compile(
    r'(comment="(?:Package )?)([A-Za-z0-9._+-]+)( is | &lt;| ==| &gt;| <| >)')
_OVAL_NAME = re.compile(r"(<name>)([^<]+)(</name>)")
_OVAL_DESC = re.compile(r"(<description>)(.*?)(</description>)", re.S)


def oval_replica(section, i, rng):
    if i == 0:
        return section
    s = remap_ids(section, i)
    s = _OVAL_COMMENT_PKG.sub(
        lambda g: g.group(0) if g.group(2).endswith("-release")
        else g.group(1) + pkg(g.group(2), i) + g.group(3), s)
    s = _OVAL_NAME.sub(lambda g: g.group(1) + pkg(g.group(2), i) + g.group(3), s)
    return _OVAL_DESC.sub(lambda g: g.group(1) + pad_text(rng) + g.group(3), s)


def gen_oval(fixture, target, k, rng, out):
    doc = read(fixture)
    res = _OVAL_SECTION.sub(lambda g: g.group(1) + "".join(
        oval_replica(g.group(3), i, rng) for i in range(k)) + g.group(4), doc)
    write(os.path.join(out, target), res)


_TRACKER_PKG = re.compile(r"^([a-z0-9/.-]+)_([^:\s]+): ", re.M)
_TRACKER_DESC = re.compile(r"(^Description:\n)((?: .*\n)*)", re.M)
_TRACKER_RELEASED = re.compile(r"^(?!upstream_)([a-z0-9/.-]+)_([^:\s]+): released (.*)$", re.M)


def gen_ubuntu(k, rng, out):
    for sub in ("active", "retired"):
        src = os.path.join(FIXTURES, "ubuntu-tracker", sub)
        for fn in sorted(os.listdir(src)):
            text = read(os.path.join("ubuntu-tracker", sub, fn))
            for i in range(k):
                q = text
                if i > 0:
                    q = remap_ids(q, i)
                    q = _TRACKER_DESC.sub(lambda g: g.group(1) + " " + pad_text(rng) + "\n", q)
                    released = _TRACKER_RELEASED.findall(q)
                    q = _TRACKER_PKG.sub(lambda g: "%s_%s: " % (g.group(1), pkg(g.group(2), i, "ubuntu")), q)
                    if released and rng.random() < 0.5:
                        rel, p, rest = rng.choice(released)
                        q += "%s_%s: released %s\n" % (
                            rel, pkg("zzfan%d-%s" % (rng.randint(1, 3), p), i), rest)
                write(os.path.join(out, "ubuntu-tracker", sub, remap_ids(fn, i)), q)


def gen_cgosv(k, rng, out):
    src = os.path.join(FIXTURES, "cg-osv")
    for fn in sorted(os.listdir(src)):
        text = read(os.path.join("cg-osv", fn))
        rec = json.loads(text)
        for i in range(k):
            if i == 0:
                q = text
            else:
                r = rj(rec, i)
                for a in r.get("affected", []):
                    a["package"]["name"] = pkg(a["package"]["name"], i)
                q = json.dumps(r)
            write(os.path.join(out, "cg-osv", remap_ids(fn, i)), q)


# ---- app feeds -------------------------------------------------------------

def per_file_app(subdir, k, rng, out, pad_key=None):
    src = os.path.join(FIXTURES, subdir)
    for root, _, files in os.walk(src):
        for fn in sorted(files):
            rel = os.path.relpath(os.path.join(root, fn), FIXTURES)
            text = read(rel)
            for i in range(k):
                q = remap_ids(text, i)
                if i > 0 and pad_key:
                    r = json.loads(q)
                    r[pad_key] = pad_text(rng)
                    q = json.dumps(r)
                write(os.path.join(out, os.path.dirname(rel), remap_ids(fn, i)), q)


_LI = re.compile(r"<li><p>.*?</p></li>\n", re.S)
_H3 = re.compile(r'h3 id=.*?(?=h3 id=|\Z)', re.S)


def gen_apps(k, rng, out):
    per_file_app("go-osv", k, rng, out, pad_key="details")
    per_file_app("ruby-gems", k, rng, out)
    lines = read("ghsa_maven.ndjson").splitlines()
    res = []
    for i in range(k):
        for ln in lines:
            if i == 0:
                res.append(ln)
                continue
            r = json.loads(remap_ids(ln, i))
            r["advisory"]["description"] = pad_text(rng)
            res.append(json.dumps(r))
    write(os.path.join(out, "apps", "ghsa_maven.ndjson"), "\n".join(res) + "\n")
    nginx = read("nginx_advisories.html")
    items = _LI.findall(nginx)
    head = nginx[:nginx.index(items[0])]
    tail = nginx[nginx.index(items[-1]) + len(items[-1]):]
    write(os.path.join(out, "apps", "nginx_advisories.html"),
          head + "".join(remap_ids(it, i) for i in range(k) for it in items) + tail)
    ossl = read("openssl_advisories.html")
    secs = _H3.findall(ossl)
    head = ossl[:ossl.index(secs[0])]
    write(os.path.join(out, "apps", "openssl_advisories.html"),
          head + "".join(remap_ids(s, i) for i in range(k) for s in secs))
    manual = read("manual.db").splitlines()
    write(os.path.join(out, "apps", "manual.db"),
          "\n".join(remap_ids(ln, i) for i in range(k) for ln in manual) + "\n")
    calib = read("apps_calibration").splitlines()
    write(os.path.join(out, "apps", "apps_calibration"),
          "\n".join(remap_ids(ln, i) for i in range(k) for ln in calib) + "\n")
    # the Kubernetes feed overlaps the built-in OpenShift records, which
    # cannot be replicated, so it stays at its fixture size
    shutil.copyfile(os.path.join(FIXTURES, "k8s.json"), os.path.join(out, "apps", "k8s.json"))


def gen_nvd(k, rng, out):
    doc = json.loads(read("nvd_sample.json"))
    by_year = {}
    for v in doc["vulnerabilities"]:
        en = [d for d in v["cve"].get("descriptions", []) if d.get("lang") == "en"]
        tmpl = json.loads(json.dumps(v))
        for d in tmpl["cve"].get("descriptions", []):
            if d.get("lang") == "en":
                d["value"] = "@@DESC@@"
        tmpl = json.dumps(tmpl)
        year = v["cve"]["id"].split("-")[1]
        # the ids of replica i differ from replica 1's only in the marker
        one = remap_ids(tmpl, 1)
        for i in range(k):
            if i == 0:
                by_year.setdefault(year, []).append(json.dumps(v))
            else:
                q = one.replace(mark(1), mark(i)).replace("q%06dq" % 1, "q%06dq" % i)
                if en:
                    q = q.replace('"@@DESC@@"', json.dumps(pad_text(rng)))
                by_year.setdefault(year, []).append(q)
    for year, vs in sorted(by_year.items()):
        write(os.path.join(out, "nvd", "nvdcve-2.0-%s.json" % year),
              '{"startIndex": 0, "totalResults": %d, "vulnerabilities": [\n%s\n]}\n'
              % (len(vs), ",\n".join(vs)))


DISTRO = {
    "ubuntu": gen_ubuntu, "debian": gen_debian, "alpine": gen_alpine,
    "amazon": gen_amazon, "photon": gen_photon, "rocky": gen_rocky,
    "cgosv": gen_cgosv,
    "rhel": lambda k, r, o: gen_oval("rhel_oval.xml", "oval/rhel-8.xml", k, r, o),
    "oracle": lambda k, r, o: gen_oval("oracle_oval.xml", "oval/oracle.xml", k, r, o),
    "suse": lambda k, r, o: gen_oval("suse_oval.xml", "oval/suse-15.xml", k, r, o),
    "mariner": lambda k, r, o: gen_oval("mariner_oval.xml", "oval/mariner.xml", k, r, o),
}


def scaled(counts, factor):
    return {f: max(1, round(k * factor)) for f, k in counts.items()}


def generate(out, seed, counts):
    """Write the scaled feed set for `counts` (feed -> replicas) to `out`.

    NVD gets as many replicas as the largest feed, so every replica's
    CVEs find their enrichment rows. Returns the manifest dict."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = random.Random(seed)
    _POOL.clear()
    for f in sorted(DISTRO):
        DISTRO[f](counts[f], rng, out)
    gen_apps(counts["apps"], rng, out)
    nvd_k = max(counts.values())
    gen_nvd(nvd_k, rng, out)
    manifest = {"seed": seed, "replicas": dict(counts, nvd=nvd_k), "feeds": {}}
    for d in sorted(os.listdir(out)):
        files, size = 0, 0
        for root, _, fs in os.walk(os.path.join(out, d)):
            for fn in fs:
                files += 1
                size += os.path.getsize(os.path.join(root, fn))
        manifest["feeds"][d] = {"files": files, "bytes": size}
    write(os.path.join(out, "manifest.json"), json.dumps(manifest, indent=1, sort_keys=True))
    return manifest
