"""Static lookup tables from the WHATWG HTML standard used by tree
construction (element categories, scopes, quirks public-ID prefixes,
foreign-content case adjustments).

Parity anchors into the reference: SPECIAL_ELEMENTS
(/root/reference/lib/Parser/TreeConstructor.php:229-233), scope tables
(/root/reference/lib/Parser/OpenElementsStack.php:44-86), SVG case maps
(/root/reference/lib/Parser/TreeConstructor.php:106-217), quirks public-ID
tables (/root/reference/lib/Parser/TreeConstructor.php:1409-1489).
All contents are transcribed from the public spec, not from the reference.
"""

from __future__ import annotations

from .dom import HTML_NS, MATHML_NS, SVG_NS, XLINK_NS, XML_NS, XMLNS_NS

SPECIAL_HTML = frozenset("""
address applet area article aside base basefont bgsound blockquote body br
button caption center col colgroup dd details dir div dl dt embed fieldset
figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6 head header
hgroup hr html iframe img input keygen li link listing main marquee menu meta
nav noembed noframes noscript object ol p param plaintext pre script search
section select source style summary table tbody td template textarea tfoot th
thead title tr track ul wbr xmp
""".split())

SPECIAL_MATHML = frozenset(["mi", "mo", "mn", "ms", "mtext", "annotation-xml"])
SPECIAL_SVG = frozenset(["foreignObject", "desc", "title"])


def is_special(el) -> bool:
    ns = el.namespace
    if ns == HTML_NS:
        return el.name in SPECIAL_HTML
    if ns == MATHML_NS:
        return el.name in SPECIAL_MATHML
    if ns == SVG_NS:
        return el.name in SPECIAL_SVG
    return False


FORMATTING = frozenset(
    ["a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
     "strike", "strong", "tt", "u"])

IMPLIED_END = frozenset(["dd", "dt", "li", "optgroup", "option", "p", "rb", "rp", "rt", "rtc"])
IMPLIED_END_THOROUGH = IMPLIED_END | frozenset(
    ["caption", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr"])

# scope tables: (namespace, name) pairs that terminate the scope walk
_BASE_SCOPE = frozenset(
    [(HTML_NS, n) for n in ("applet", "caption", "html", "table", "td", "th",
                            "marquee", "object", "template")]
    + [(MATHML_NS, n) for n in ("mi", "mo", "mn", "ms", "mtext", "annotation-xml")]
    + [(SVG_NS, n) for n in ("foreignObject", "desc", "title")])
SCOPE_DEFAULT = _BASE_SCOPE
SCOPE_LIST_ITEM = _BASE_SCOPE | frozenset([(HTML_NS, "ol"), (HTML_NS, "ul")])
SCOPE_BUTTON = _BASE_SCOPE | frozenset([(HTML_NS, "button")])
SCOPE_TABLE = frozenset([(HTML_NS, "html"), (HTML_NS, "table"), (HTML_NS, "template")])

# in-body block start/end tag family (modern spec: includes dialog + search;
# select additionally appears in the END-tag family)
BLOCK_START = frozenset("""
address article aside blockquote center details dialog dir div dl fieldset
figcaption figure footer header hgroup main menu nav ol p search section
summary ul
""".split())
BLOCK_END = (BLOCK_START - frozenset(["p"])) | frozenset(
    ["button", "listing", "pre", "select"])

VOID_HTML = frozenset("""
area base basefont bgsound br col embed frame hr img input keygen link meta
param source track wbr
""".split())

# ---------------------------------------------------------------------------
# quirks-mode DOCTYPE tables (WHATWG HTML §13.2.6.4.1), lowercase
# ---------------------------------------------------------------------------

QUIRKY_PUBLIC_IDS = frozenset([
    "-//w3o//dtd w3 html strict 3.0//en//",
    "-/w3c/dtd html 4.0 transitional/en",
    "html",
])
QUIRKY_PUBLIC_PREFIXES = (
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//",
    "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//",
    "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//",
    "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//",
    "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//",
    "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//",
    "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//",
    "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//",
    "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//",
    "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//",
    "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//",
    "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//",
    "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//",
    "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//",
    "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//",
    "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//",
)
QUIRKY_IF_NO_SYSTEM_PREFIXES = (
    "-//w3c//dtd html 4.01 frameset//",
    "-//w3c//dtd html 4.01 transitional//",
)
LIMITED_QUIRKY_PREFIXES = (
    "-//w3c//dtd xhtml 1.0 frameset//",
    "-//w3c//dtd xhtml 1.0 transitional//",
)
QUIRKY_SYSTEM_ID = "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"

# ---------------------------------------------------------------------------
# foreign content (WHATWG HTML §13.2.6.5)
# ---------------------------------------------------------------------------

BREAKOUT = frozenset("""
b big blockquote body br center code dd div dl dt em embed h1 h2 h3 h4 h5 h6
head hr i img li listing menu meta nobr ol p pre ruby s small span strong
strike sub sup table tt u ul var
""".split())

SVG_TAG_ADJUST = {
    "altglyph": "altGlyph", "altglyphdef": "altGlyphDef",
    "altglyphitem": "altGlyphItem", "animatecolor": "animateColor",
    "animatemotion": "animateMotion", "animatetransform": "animateTransform",
    "clippath": "clipPath", "feblend": "feBlend",
    "fecolormatrix": "feColorMatrix", "fecomponenttransfer": "feComponentTransfer",
    "fecomposite": "feComposite", "feconvolvematrix": "feConvolveMatrix",
    "fediffuselighting": "feDiffuseLighting", "fedisplacementmap": "feDisplacementMap",
    "fedistantlight": "feDistantLight", "fedropshadow": "feDropShadow",
    "feflood": "feFlood", "fefunca": "feFuncA", "fefuncb": "feFuncB",
    "fefuncg": "feFuncG", "fefuncr": "feFuncR", "fegaussianblur": "feGaussianBlur",
    "feimage": "feImage", "femerge": "feMerge", "femergenode": "feMergeNode",
    "femorphology": "feMorphology", "feoffset": "feOffset",
    "fepointlight": "fePointLight", "fespecularlighting": "feSpecularLighting",
    "fespotlight": "feSpotLight", "fetile": "feTile", "feturbulence": "feTurbulence",
    "foreignobject": "foreignObject", "glyphref": "glyphRef",
    "lineargradient": "linearGradient", "radialgradient": "radialGradient",
    "textpath": "textPath",
}

SVG_ATTR_ADJUST = {
    "attributename": "attributeName", "attributetype": "attributeType",
    "basefrequency": "baseFrequency", "baseprofile": "baseProfile",
    "calcmode": "calcMode", "clippathunits": "clipPathUnits",
    "diffuseconstant": "diffuseConstant", "edgemode": "edgeMode",
    "filterunits": "filterUnits", "glyphref": "glyphRef",
    "gradienttransform": "gradientTransform", "gradientunits": "gradientUnits",
    "kernelmatrix": "kernelMatrix", "kernelunitlength": "kernelUnitLength",
    "keypoints": "keyPoints", "keysplines": "keySplines", "keytimes": "keyTimes",
    "lengthadjust": "lengthAdjust", "limitingconeangle": "limitingConeAngle",
    "markerheight": "markerHeight", "markerunits": "markerUnits",
    "markerwidth": "markerWidth", "maskcontentunits": "maskContentUnits",
    "maskunits": "maskUnits", "numoctaves": "numOctaves",
    "pathlength": "pathLength", "patterncontentunits": "patternContentUnits",
    "patterntransform": "patternTransform", "patternunits": "patternUnits",
    "pointsatx": "pointsAtX", "pointsaty": "pointsAtY", "pointsatz": "pointsAtZ",
    "preservealpha": "preserveAlpha", "preserveaspectratio": "preserveAspectRatio",
    "primitiveunits": "primitiveUnits", "refx": "refX", "refy": "refY",
    "repeatcount": "repeatCount", "repeatdur": "repeatDur",
    "requiredextensions": "requiredExtensions", "requiredfeatures": "requiredFeatures",
    "specularconstant": "specularConstant", "specularexponent": "specularExponent",
    "spreadmethod": "spreadMethod", "startoffset": "startOffset",
    "stddeviation": "stdDeviation", "stitchtiles": "stitchTiles",
    "surfacescale": "surfaceScale", "systemlanguage": "systemLanguage",
    "tablevalues": "tableValues", "targetx": "targetX", "targety": "targetY",
    "textlength": "textLength", "viewbox": "viewBox", "viewtarget": "viewTarget",
    "xchannelselector": "xChannelSelector", "ychannelselector": "yChannelSelector",
    "zoomandpan": "zoomAndPan",
}

MATHML_ATTR_ADJUST = {"definitionurl": "definitionURL"}

# attr name -> (prefix, local, namespace) tuple key for the DOM attrs dict
FOREIGN_ATTR_ADJUST = {
    "xlink:actuate": ("xlink", "actuate", XLINK_NS),
    "xlink:arcrole": ("xlink", "arcrole", XLINK_NS),
    "xlink:href": ("xlink", "href", XLINK_NS),
    "xlink:role": ("xlink", "role", XLINK_NS),
    "xlink:show": ("xlink", "show", XLINK_NS),
    "xlink:title": ("xlink", "title", XLINK_NS),
    "xlink:type": ("xlink", "type", XLINK_NS),
    # xml:id is a deliberate reference deviation we mirror
    # (/root/reference/lib/Parser/TreeConstructor.php:212)
    "xml:id": ("xml", "id", XML_NS),
    "xml:lang": ("xml", "lang", XML_NS),
    "xml:space": ("xml", "space", XML_NS),
    "xmlns": ("", "xmlns", XMLNS_NS),
    "xmlns:xlink": ("xmlns", "xlink", XMLNS_NS),
}
