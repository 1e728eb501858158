"""Seeded bookOrder corpus generator for the xml_mixed workload.

Documents follow the library's bookOrder fixture schema
(src/main/resources/graft/fixtures/bookOrder.xsd). Optional elements and
attributes are dropped at random. The number of `book` elements follows
a skewed profile, so document sizes vary widely. The corpus has small
plain and gzip files next to zip and tar.gz archives of large documents.

Every byte written depends only on the seed: gzip headers carry mtime 0,
zip and tar entries carry fixed timestamps and owners. The manifest holds
the input checksum and the aggregates a correct conversion must reproduce.
"""
import gzip
import hashlib
import io
import random
import tarfile
import zipfile

FIRST = ["Ada", "Blaise", "Emmy", "Kurt", "Grace", "Alan", "Sofia", "Niels"]
LAST = ["Lovelace", "Pascal", "Noether", "Goedel", "Hopper", "Turing",
        "Kovalevskaya", "Bohr"]
CITY = ["Lyon", "Paris", "Nantes", "Lille", "Rennes", "Dijon", "Brest"]
WORDS = ["Relational", "Algebra", "Streams", "Tables", "Practice", "Query",
         "Systems", "Parquet", "Columns", "Schema", "Theory", "Notes"]

# conversion settings; the include drops billTo and the root note, the
# excludes drop one field of shipTo and one of book
INCLUDES = ["/bookOrder/shipTo", "/bookOrder/books"]
EXCLUDES = ["/bookOrder/shipTo/street", "/bookOrder/books/book/note"]
# dotted paths that must be absent from every output schema
ABSENT = ["bookOrder.billTo", "bookOrder.note",
          "bookOrder.shipTo.street", "bookOrder.books.book.note"]

# corpus sizes: plain/gzip files and archives, and the (scale, alpha,
# cap) of each book-count profile
FILES = 8
FILES_GZIPPED = 3
FILES_PROFILE = (4.0, 1.3, 400)
ARCHIVES = 2
ARCHIVE_MEMBERS = 8
ARCHIVE_PROFILE = (150.0, 1.2, 4000)


def _date(rng):
    return "%04d-%02d-%02d" % (rng.randint(1995, 2024), rng.randint(1, 12),
                               rng.randint(1, 28))


def _address(rng, tag):
    country = ' country="FR"' if rng.random() < 0.7 else ""
    return ("<%s%s><name>%s %s</name><street>%d Rue %s</street>"
            "<city>%s</city><zip>%d</zip></%s>" % (
                tag, country, rng.choice(FIRST), rng.choice(LAST),
                rng.randint(1, 200), rng.choice(WORDS), rng.choice(CITY),
                rng.randint(10000, 99999), tag))


def size_profile(n, scale, alpha, cap):
    """Book counts of `n` documents: quantiles of a Pareto distribution
    (most documents small, a few very large). The multiset is the same
    for every seed, so corpus size does not vary with the seed; the seed
    decides which document gets which size and everything else."""
    return [min(cap, int(scale * ((1.0 - (i + 0.5) / n) ** (-1.0 / alpha) - 1.0)))
            for i in range(n)]


def document(rng, n):
    """One bookOrder document with `n` books, and its (books, sum of
    copies)."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<bookOrder']
    if rng.random() < 0.8:
        parts.append(' orderDate="%s"' % _date(rng))
    parts.append(">")
    parts.append(_address(rng, "shipTo"))
    parts.append(_address(rng, "billTo"))
    if rng.random() < 0.5:
        parts.append("<note>%s</note>" % " ".join(rng.sample(WORDS, 3)))
    parts.append("<books>")
    copies = 0
    for _ in range(n):
        c = rng.randint(1, 999)
        copies += c
        parts.append('<book isbn="%03d-%s%s"><title>%s</title>'
                     "<copies>%d</copies><price>%d.%02d</price>" % (
                         rng.randint(0, 999), chr(65 + rng.randint(0, 25)),
                         chr(65 + rng.randint(0, 25)),
                         " ".join(rng.sample(WORDS, 2)), c,
                         rng.randint(1, 150), rng.randint(0, 99)))
        if rng.random() < 0.3:
            parts.append("<note>%s</note>" % rng.choice(WORDS))
        if rng.random() < 0.5:
            parts.append("<shipDate>%s</shipDate>" % _date(rng))
        parts.append("</book>")
    parts.append("</books></bookOrder>\n")
    return "".join(parts).encode("utf-8"), n, copies


def _gzip(data):
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as g:
        g.write(data)
    return buf.getvalue()


def _zip(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)
    return buf.getvalue()


def _targz(members):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as t:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.mode = 0o644
            t.addfile(info, io.BytesIO(data))
    return _gzip(buf.getvalue())


def corpus(seed):
    """Return ([(file name, bytes)], manifest) for the seed."""
    rng = random.Random("xml_mixed:%d" % seed)
    files = []
    # output name -> (input file, the name its file_info must carry)
    outputs = {}
    books = copies = xml_bytes = 0

    def add(n):
        nonlocal books, copies, xml_bytes
        data, n, c = document(rng, n)
        books += n
        copies += c
        xml_bytes += len(data)
        return data

    sizes = size_profile(FILES, *FILES_PROFILE)
    rng.shuffle(sizes)
    gzipped = set(rng.sample(range(FILES), FILES_GZIPPED))
    for i in range(FILES):
        data = add(sizes[i])
        base = "order_%05d" % i
        name = base + (".xml.gz" if i in gzipped else ".xml")
        files.append((name, _gzip(data) if i in gzipped else data))
        outputs[base + ".xml.parquet"] = (name, name)
    sizes = size_profile(ARCHIVES * ARCHIVE_MEMBERS, *ARCHIVE_PROFILE)
    rng.shuffle(sizes)
    for a in range(ARCHIVES):
        entries = [("order_%03d_%03d.xml" % (a, m),
                    add(sizes[a * ARCHIVE_MEMBERS + m]))
                   for m in range(ARCHIVE_MEMBERS)]
        base = "shelf_%02d" % a
        if a % 2 == 0:
            files.append((base + ".zip", _zip(entries)))
        else:
            files.append((base + ".tar.gz", _targz(entries)))
        for member, _ in entries:
            outputs["%s.%s.parquet" % (base, member)] = (files[-1][0], member)
    digest = hashlib.sha256()
    for name, data in files:
        digest.update(name.encode("utf-8") + b"\0")
        digest.update(hashlib.sha256(data).digest())
    manifest = {
        "seed": seed,
        "input_sha256": digest.hexdigest(),
        "inputs": len(files),
        "documents": len(outputs),
        "archive_members": ARCHIVES * ARCHIVE_MEMBERS,
        "books": books,
        "sum_copies": copies,
        "xml_bytes": xml_bytes,
        "outputs": dict(sorted(outputs.items())),
        "includes": INCLUDES,
        "excludes": EXCLUDES,
        "absent_fields": ABSENT,
    }
    return files, manifest
