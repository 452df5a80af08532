#!/usr/bin/env python3
"""marc-in-json -> MARCXML converter (dev tool for test fixtures).

Writes the MARC21 slim schema (http://www.loc.gov/MARC21/slim): one
<collection> of <record> elements, each with a <leader>, <controlfield
tag=...> for fields without indicators and <datafield tag= ind1= ind2=>
holding <subfield code=...> elements. Element text is written verbatim
(no surrounding whitespace), because control fields are fixed-position.
One element per line, as ruby-marc's XMLWriter lays records out.

Stdlib only, so the fixture does not depend on graft's own MARC writer.

Usage: json2marcxml.py IN.json > OUT.marc.xml
"""
import json
import re
import sys
from xml.sax.saxutils import escape, quoteattr

NS = "http://www.loc.gov/MARC21/slim"
# characters XML 1.0 cannot carry, even escaped
INVALID = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]")


def text(s):
    if INVALID.search(s):
        raise ValueError(f"value not representable in XML 1.0: {s!r}")
    return escape(s)


def record_lines(rec):
    yield "<record>"
    yield f"<leader>{text(rec['leader'])}</leader>"
    for field in rec["fields"]:
        (tag, value), = field.items()
        if isinstance(value, str):
            yield f"<controlfield tag={quoteattr(tag)}>{text(value)}</controlfield>"
        else:
            yield (f"<datafield tag={quoteattr(tag)} ind1={quoteattr(value['ind1'])}"
                   f" ind2={quoteattr(value['ind2'])}>")
            for sub in value["subfields"]:
                (code, sv), = sub.items()
                yield f"<subfield code={quoteattr(code)}>{text(sv)}</subfield>"
            yield "</datafield>"
    yield "</record>"


def main(path):
    out = ['<?xml version="1.0" encoding="UTF-8"?>', f'<collection xmlns="{NS}">']
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                out.extend(record_lines(json.loads(line)))
    out.append("</collection>")
    sys.stdout.buffer.write(("\n".join(out) + "\n").encode("utf-8"))


if __name__ == "__main__":
    main(sys.argv[1])
