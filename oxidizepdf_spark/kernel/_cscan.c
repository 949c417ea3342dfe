/* C fast path for the content-stream interpreter loop.
 *
 * This is a line-for-line transcription of parse_and_run's fused
 * tokenize+parse+interpret loop (content.py) into C with the CPython API,
 * covering fast-show mode AND (since round 6) layout mode — positioned
 * TextFragment emission mirroring Interpreter._emit_fragment, with the
 * ActualText pending branch delegated to interp._pending_absorb and the
 * marked-content environment re-read after every callback that can move
 * it.  Semantics are
 * pinned by the same differential tests that pin the Python loop against
 * run(parse_content(data)): the scanner reproduces _MASTER_FAST's generic
 * token classes (the macro alternatives are pure-Python speed devices —
 * macro == generic-token semantics is itself pinned), the operator
 * handlers mirror the Python branches one-for-one, and everything the C
 * loop cannot express natively (XObject paint, marked-content props,
 * inline-image scan, a cold run its font's code table declines — see the
 * fonts section) calls back into the SAME Python
 * methods with the SAME state write-back/read-back discipline the Python
 * loop uses around those calls.
 *
 * Reference lineage (same as the Python loop): oxidize-pdf-core
 * content.rs operator semantics + extraction.rs show-text math.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>
#include <string.h>
#include <strings.h>
#include <stdlib.h>
#include <ctype.h>
#include <math.h>
#include <time.h>

/* ---- module-level objects installed by setup() ------------------------- */
static PyObject *g_AO, *g_AC, *g_DO, *g_DC;  /* marker singletons */
static PyObject *g_name_memo;                /* content._NAME_MEMO */
static PyObject *g_decode_name;              /* content._decode_name */
static PyObject *g_inline_tok;               /* content._InlineTok */
static PyObject *g_hexval;                   /* content._hexval (error parity) */
static PyObject *g_bi_helper;                /* content._c_bi */
static PyObject *g_bdc_helper;               /* content._c_bdc */
static PyObject *g_scan_bi;                  /* content._scan_bi */
static PyObject *g_nl, *g_sp, *g_empty;      /* "\n", " ", "" */
static PyObject *g_gray, *g_rgb, *g_cmyk;    /* color space tags */
/* layout stage (setup_layout): fragment emission for preserve_layout /
 * reading-order pages — NULL until installed */
static PyObject *g_frag_cls;    /* layout.TextFragment */
static PyObject *g_font_style;  /* layout.parse_font_style */
static PyObject *g_frag_env;    /* content._c_frag_env */

/* interned attribute names */
static PyObject *a_state, *a_options, *a_in_text, *a_total, *a_last_x,
    *a_last_y, *a_last_char, *a_text_parts, *a_font_memo, *a_decode,
    *a_set_font_memo, *a_paint_xobject, *a_op_bmc, *a_op_emc,
    *a_next_line_show, *a_text_matrix, *a_text_line_matrix, *a_ctm,
    *a_leading, *a_char_space, *a_word_space, *a_horizontal_scale,
    *a_text_rise, *a_font_size, *a_font_name, *a_render_mode,
    *a_fill_color, *a_saved, *a_artifact_n, *a_newline_threshold,
    *a_space_threshold, *a_tj_space_threshold, *a_include_artifacts,
    *a_layout, *a_fragments, *a_pending_absorb;

/* ---- operand stack ------------------------------------------------------ */
enum { V_NUM = 0, V_STR = 1, V_NAME = 2, V_MARK = 3, V_OBJ = 4 };

typedef struct {
    unsigned char tag;
    unsigned char is_int;
    unsigned char ival_ok;
    double num;
    long long ival;
    const unsigned char *ptr;  /* V_STR view / V_NUM token text */
    Py_ssize_t len;
    PyObject *obj;  /* owned: V_NAME str, V_OBJ, V_STR owned bytes, V_MARK */
} Val;

typedef struct {
    PyObject *interp, *st, *opts, *data_obj, *resources;
    const unsigned char *data;
    Py_ssize_t n;
    int depth;
    double nl_thr, sp_thr, tj_thr;
    int inc_art;
    /* hot state (the Python loop's locals) */
    double la1, la2, la3, la4, lt4, lt5, tt4, tt5;
    double ctm[6];
    int ctm_ident;
    double fs, hs, l_sp;
    int in_text, noart;
    long long total;
    double lastx, lasty;
    Py_UCS4 lastc; /* 0 == "" */
    PyObject *text_parts, *font_memo, *saved, *fill_color, *decode_meth;
    PyObject *tf_name; /* current st.font_name (owned): Tf ops naming the
                        * SAME memoized name object at the same size are
                        * observationally idempotent and skip the Python
                        * _set_font_memo round-trip (31.6k Tf ops on the
                        * Cold_Email fixture, overwhelmingly redundant) */
    /* layout stage (only populated when c->layout): fragment emission
     * state — everything Interpreter._emit_fragment reads, cached with
     * the same write-back/re-read discipline as the counters */
    int layout;
    PyObject *fragments;   /* interp.fragments (owned) */
    PyObject *font_name;   /* st.font_name (owned; may be Py_None) */
    int fbold, fital;      /* parse_font_style(font_name) memo */
    PyObject *cur_mcid;    /* _innermost_mc_tag(st.mc_stack) (owned) */
    PyObject *cur_tag;     /* ... (owned) */
    PyObject *pending;     /* st.pending_actualtext (owned; may be None) */
    double xsc, ysc;       /* Tm×CTM x/y scale (lazy, scale_dirty) */
    int scale_dirty;
    Val *stk;
    Py_ssize_t sp, cap;
    /* run_pages (native): no Interpreter behind the loop.  The state its
     * Python object would hold lives here, and a step the loop would hand
     * to an Interpreter method either runs natively or bails the page
     * (bail = 1, no exception). */
    int native, bail;
    double leading;        /* st.leading */
    PyObject *fonts;       /* the page's {name: FontInfo} (owned) */
    PyObject *cur_info;    /* fonts.get(st.font_name), borrowed, or NULL */
    PyObject *dmemo;       /* reader._span_decode_memo (borrowed) */
    void *doc;             /* the open document (Doc *) */
    PyObject *spans;       /* the page's spans (owned) */
    Py_ssize_t flushed;    /* text_parts already flushed into spans */
    Py_ssize_t page_index, inline_idx;
    double *qs;            /* q/Q: the saved CTMs, 6 per entry */
    Py_ssize_t qn, qcap;
    unsigned char *mc;     /* marked-content stack: is-artifact flags */
    Py_ssize_t mcn, mccap, art_n;
} Ctx;

/* run_pages' native steps (the page-loop section below): 0 = done, -1 =
 * an exception or a bail (c->bail) */
static int native_font(Ctx *c, PyObject *name);
static int native_line_show(Ctx *c, Val *v);
static int native_q(Ctx *c, int push);
static int native_mc(Ctx *c, int kind);
static int native_do(Ctx *c, PyObject *name);
static int native_bi(Ctx *c, Py_ssize_t *pos);

static int stack_push(Ctx *c, Val v)
{
    if (c->sp >= c->cap) {
        Py_ssize_t ncap = c->cap ? c->cap * 2 : 64;
        Val *ns = (Val *)realloc(c->stk, ncap * sizeof(Val));
        if (!ns) {
            Py_XDECREF(v.obj);
            PyErr_NoMemory();
            return -1;
        }
        c->stk = ns;
        c->cap = ncap;
    }
    c->stk[c->sp++] = v;
    return 0;
}

static void stack_clear(Ctx *c)
{
    while (c->sp > 0)
        Py_XDECREF(c->stk[--c->sp].obj);
}

/* ---- small helpers ------------------------------------------------------ */
static int get_f(PyObject *o, PyObject *name, double *out)
{
    PyObject *v = PyObject_GetAttr(o, name);
    if (!v)
        return -1;
    double d = PyFloat_AsDouble(v);
    Py_DECREF(v);
    if (d == -1.0 && PyErr_Occurred())
        return -1;
    *out = d;
    return 0;
}

static int set_f(PyObject *o, PyObject *name, double v)
{
    PyObject *f = PyFloat_FromDouble(v);
    if (!f)
        return -1;
    int r = PyObject_SetAttr(o, name, f);
    Py_DECREF(f);
    return r;
}

static PyObject *tuple6(double a, double b, double cc, double d, double e,
                        double f)
{
    PyObject *t = PyTuple_New(6);
    if (!t)
        return NULL;
    double v[6] = {a, b, cc, d, e, f};
    for (int i = 0; i < 6; i++) {
        PyObject *x = PyFloat_FromDouble(v[i]);
        if (!x) {
            Py_DECREF(t);
            return NULL;
        }
        PyTuple_SET_ITEM(t, i, x);
    }
    return t;
}

static int read_mat6(PyObject *o, PyObject *name, double out[6])
{
    PyObject *t = PyObject_GetAttr(o, name);
    if (!t)
        return -1;
    if (!PyTuple_Check(t) || PyTuple_GET_SIZE(t) != 6) {
        Py_DECREF(t);
        PyErr_SetString(PyExc_TypeError, "matrix is not a 6-tuple");
        return -1;
    }
    for (int i = 0; i < 6; i++) {
        out[i] = PyFloat_AsDouble(PyTuple_GET_ITEM(t, i));
        if (out[i] == -1.0 && PyErr_Occurred()) {
            Py_DECREF(t);
            return -1;
        }
    }
    Py_DECREF(t);
    return 0;
}

static int set_matrices(Ctx *c)
{
    PyObject *tm = tuple6(c->la1, c->la2, c->la3, c->la4, c->tt4, c->tt5);
    if (!tm)
        return -1;
    int r = PyObject_SetAttr(c->st, a_text_matrix, tm);
    Py_DECREF(tm);
    if (r < 0)
        return -1;
    PyObject *tlm = tuple6(c->la1, c->la2, c->la3, c->la4, c->lt4, c->lt5);
    if (!tlm)
        return -1;
    r = PyObject_SetAttr(c->st, a_text_line_matrix, tlm);
    Py_DECREF(tlm);
    return r;
}

static PyObject *lastc_obj(Ctx *c)
{
    if (c->lastc == 0) {
        Py_INCREF(g_empty);
        return g_empty;
    }
    if (c->lastc == '\n') {
        Py_INCREF(g_nl);
        return g_nl;
    }
    if (c->lastc == ' ') {
        Py_INCREF(g_sp);
        return g_sp;
    }
    return PyUnicode_FromOrdinal((int)c->lastc);
}

static int sync_counters_out(Ctx *c)
{
    PyObject *t = PyLong_FromLongLong(c->total);
    if (!t)
        return -1;
    int r = PyObject_SetAttr(c->interp, a_total, t);
    Py_DECREF(t);
    if (r < 0)
        return -1;
    if (set_f(c->interp, a_last_x, c->lastx) < 0)
        return -1;
    if (set_f(c->interp, a_last_y, c->lasty) < 0)
        return -1;
    PyObject *lc = lastc_obj(c);
    if (!lc)
        return -1;
    r = PyObject_SetAttr(c->interp, a_last_char, lc);
    Py_DECREF(lc);
    return r;
}

static int sync_out(Ctx *c) /* matrices + counters (the pre-call sync) */
{
    if (set_matrices(c) < 0)
        return -1;
    return sync_counters_out(c);
}

static int read_lastc(Ctx *c)
{
    PyObject *lc = PyObject_GetAttr(c->interp, a_last_char);
    if (!lc)
        return -1;
    if (!PyUnicode_Check(lc)) {
        Py_DECREF(lc);
        PyErr_SetString(PyExc_TypeError, "_last_char not a str");
        return -1;
    }
    Py_ssize_t l = PyUnicode_GET_LENGTH(lc);
    c->lastc = l ? PyUnicode_ReadChar(lc, l - 1) : 0;
    Py_DECREF(lc);
    return 0;
}

static int resync_in(Ctx *c) /* counters + matrices (the post-call re-read) */
{
    PyObject *t = PyObject_GetAttr(c->interp, a_total);
    if (!t)
        return -1;
    c->total = PyLong_AsLongLong(t);
    Py_DECREF(t);
    if (c->total == -1 && PyErr_Occurred())
        return -1;
    if (get_f(c->interp, a_last_x, &c->lastx) < 0)
        return -1;
    if (get_f(c->interp, a_last_y, &c->lasty) < 0)
        return -1;
    if (read_lastc(c) < 0)
        return -1;
    double m[6];
    if (read_mat6(c->st, a_text_line_matrix, m) < 0)
        return -1;
    c->la1 = m[0];
    c->la2 = m[1];
    c->la3 = m[2];
    c->la4 = m[3];
    c->lt4 = m[4];
    c->lt5 = m[5];
    if (read_mat6(c->st, a_text_matrix, m) < 0)
        return -1;
    c->tt4 = m[4];
    c->tt5 = m[5];
    return 0;
}

static int read_noart(Ctx *c)
{
    PyObject *an = PyObject_GetAttr(c->st, a_artifact_n);
    if (!an)
        return -1;
    long v = PyLong_AsLong(an);
    Py_DECREF(an);
    if (v == -1 && PyErr_Occurred())
        return -1;
    c->noart = (v == 0) || c->inc_art;
    return 0;
}

static void update_ctm_ident(Ctx *c)
{
    c->ctm_ident = (c->ctm[0] == 1.0 && c->ctm[1] == 0.0 &&
                    c->ctm[2] == 0.0 && c->ctm[3] == 1.0 &&
                    c->ctm[4] == 0.0 && c->ctm[5] == 0.0);
}

/* ---- CFrag: C-native positioned text run ------------------------------- *
 * Attribute-compatible with layout.TextFragment (same 12 fields, same
 * construction order) but built by PyObject_New with direct member
 * writes: ~10x cheaper than calling the Python class per show run, which
 * matters at ~3 fragments/word on TJ-kerned documents.  Python layout
 * passes read the members transparently (T_* descriptors); the pure-
 * Python engine keeps producing TextFragment — consumers duck-type. */

typedef struct {
    PyObject_HEAD
    PyObject *text, *font_name, *color, *mcid, *struct_tag;
    double x, y, width, height, font_size;
    char is_bold, is_italic;
} CFrag;

static PyTypeObject CFragType; /* forward */

static void CFrag_dealloc(CFrag *self)
{
    Py_XDECREF(self->text);
    Py_XDECREF(self->font_name);
    Py_XDECREF(self->color);
    Py_XDECREF(self->mcid);
    Py_XDECREF(self->struct_tag);
    Py_TYPE(self)->tp_free((PyObject *)self);
}

static PyMemberDef CFrag_members[] = {
    {"text", T_OBJECT_EX, offsetof(CFrag, text), 0, NULL},
    {"x", T_DOUBLE, offsetof(CFrag, x), 0, NULL},
    {"y", T_DOUBLE, offsetof(CFrag, y), 0, NULL},
    {"width", T_DOUBLE, offsetof(CFrag, width), 0, NULL},
    {"height", T_DOUBLE, offsetof(CFrag, height), 0, NULL},
    {"font_size", T_DOUBLE, offsetof(CFrag, font_size), 0, NULL},
    {"font_name", T_OBJECT_EX, offsetof(CFrag, font_name), 0, NULL},
    {"is_bold", T_BOOL, offsetof(CFrag, is_bold), 0, NULL},
    {"is_italic", T_BOOL, offsetof(CFrag, is_italic), 0, NULL},
    {"color", T_OBJECT_EX, offsetof(CFrag, color), 0, NULL},
    {"mcid", T_OBJECT_EX, offsetof(CFrag, mcid), 0, NULL},
    {"struct_tag", T_OBJECT_EX, offsetof(CFrag, struct_tag), 0, NULL},
    {NULL, 0, 0, 0, NULL},
};

static int CFrag_init(CFrag *self, PyObject *args, PyObject *kwds)
{
    static char *kwlist[] = {
        "text", "x", "y", "width", "height", "font_size", "font_name",
        "is_bold", "is_italic", "color", "mcid", "struct_tag", NULL,
    };
    PyObject *text, *font_name = Py_None, *color = Py_None,
        *mcid = Py_None, *struct_tag = Py_None;
    double x = 0.0, y = 0.0, width = 0.0, height = 0.0, font_size = 0.0;
    int is_bold = 0, is_italic = 0;
    if (!PyArg_ParseTupleAndKeywords(
            args, kwds, "O|dddddOppOOO", kwlist, &text, &x, &y, &width,
            &height, &font_size, &font_name, &is_bold, &is_italic, &color,
            &mcid, &struct_tag))
        return -1;
    Py_INCREF(text);
    Py_INCREF(font_name);
    Py_INCREF(color);
    Py_INCREF(mcid);
    Py_INCREF(struct_tag);
    Py_XDECREF(self->text);
    Py_XDECREF(self->font_name);
    Py_XDECREF(self->color);
    Py_XDECREF(self->mcid);
    Py_XDECREF(self->struct_tag);
    self->text = text;
    self->font_name = font_name;
    self->color = color;
    self->mcid = mcid;
    self->struct_tag = struct_tag;
    self->x = x;
    self->y = y;
    self->width = width;
    self->height = height;
    self->font_size = font_size;
    self->is_bold = (char)is_bold;
    self->is_italic = (char)is_italic;
    return 0;
}

/* fresh CFrag with all object fields NULL-safe-initialized; caller fills */
static CFrag *cfrag_alloc(void)
{
    CFrag *f = PyObject_New(CFrag, &CFragType);
    if (!f)
        return NULL;
    f->text = NULL;
    f->font_name = NULL;
    f->color = NULL;
    f->mcid = NULL;
    f->struct_tag = NULL;
    f->x = f->y = f->width = f->height = f->font_size = 0.0;
    f->is_bold = f->is_italic = 0;
    return f;
}

static PyObject *CFrag_clone(CFrag *self, PyObject *ignored)
{
    CFrag *f = cfrag_alloc();
    if (!f)
        return NULL;
    Py_XINCREF(self->text);
    Py_XINCREF(self->font_name);
    Py_XINCREF(self->color);
    Py_XINCREF(self->mcid);
    Py_XINCREF(self->struct_tag);
    f->text = self->text;
    f->font_name = self->font_name;
    f->color = self->color;
    f->mcid = self->mcid;
    f->struct_tag = self->struct_tag;
    f->x = self->x;
    f->y = self->y;
    f->width = self->width;
    f->height = self->height;
    f->font_size = self->font_size;
    f->is_bold = self->is_bold;
    f->is_italic = self->is_italic;
    return (PyObject *)f;
}

static PyObject *CFrag_repr(CFrag *self)
{
    PyObject *fx = PyFloat_FromDouble(self->x);
    PyObject *fy = PyFloat_FromDouble(self->y);
    PyObject *fw = PyFloat_FromDouble(self->width);
    PyObject *r = NULL;
    if (fx && fy && fw)
        r = PyUnicode_FromFormat(
            "TextFragment(%R @ %S,%S w=%S)",
            self->text ? self->text : Py_None, fx, fy, fw);
    Py_XDECREF(fx);
    Py_XDECREF(fy);
    Py_XDECREF(fw);
    return r;
}

static PyMethodDef CFrag_methods[] = {
    {"clone", (PyCFunction)CFrag_clone, METH_NOARGS, "copy the fragment"},
    {NULL, NULL, 0, NULL},
};

static PyTypeObject CFragType = {
    PyVarObject_HEAD_INIT(NULL, 0)
    .tp_name = "oxpdf_cscan.CFrag",
    .tp_basicsize = sizeof(CFrag),
    .tp_dealloc = (destructor)CFrag_dealloc,
    .tp_repr = (reprfunc)CFrag_repr,
    .tp_flags = Py_TPFLAGS_DEFAULT,
    .tp_doc = "C-native TextFragment (attribute-compatible)",
    .tp_methods = CFrag_methods,
    .tp_members = CFrag_members,
    .tp_init = (initproc)CFrag_init,
    .tp_new = PyType_GenericNew,
};

/* ---- layout stage: fragment emission (Interpreter._emit_fragment) ------ */

/* text-space origin: translation row of Tm × CTM (state.origin()).
 * ALWAYS the full expression — the identity-CTM shortcut used by the
 * fast-show synthesis is equal except for the SIGN of a zero origin
 * (-0.0*1.0 stays -0.0, but -0.0 + 0.0 is +0.0), and fragments expose
 * x/y directly where last_x only ever adds them. */
static void origin_xy(Ctx *c, double *x, double *y)
{
    *x = c->tt4 * c->ctm[0] + c->tt5 * c->ctm[2] + c->ctm[4];
    *y = c->tt4 * c->ctm[1] + c->tt5 * c->ctm[3] + c->ctm[5];
}

/* lazy Tm×CTM scale factors (_emit_fragment's combined matrix): a..d of
 * the text matrix change only at Tm/BT, the CTM at cm/Q/Do — shows only
 * translate, so the scales are loop-invariant between those sites */
static void ensure_scales(Ctx *c)
{
    if (!c->scale_dirty)
        return;
    double c0 = c->la1 * c->ctm[0] + c->la2 * c->ctm[2];
    double c1 = c->la1 * c->ctm[1] + c->la2 * c->ctm[3];
    double c2 = c->la3 * c->ctm[0] + c->la4 * c->ctm[2];
    double c3 = c->la3 * c->ctm[1] + c->la4 * c->ctm[3];
    c->xsc = sqrt(c0 * c0 + c1 * c1);
    c->ysc = sqrt(c2 * c2 + c3 * c3);
    c->scale_dirty = 0;
}

/* re-read (mcid, struct_tag, pending_actualtext) via content._c_frag_env —
 * after any callback that can touch mc_stack or the ActualText pending
 * (BMC/BDC/EMC/Do) and at entry */
static int refresh_frag_env(Ctx *c)
{
    PyObject *r = PyObject_CallOneArg(g_frag_env, c->interp);
    if (!r)
        return -1;
    if (!PyTuple_Check(r) || PyTuple_GET_SIZE(r) != 3) {
        Py_DECREF(r);
        PyErr_SetString(PyExc_TypeError, "frag env not a 3-tuple");
        return -1;
    }
    PyObject *mcid = PyTuple_GET_ITEM(r, 0);
    PyObject *tag = PyTuple_GET_ITEM(r, 1);
    PyObject *pend = PyTuple_GET_ITEM(r, 2);
    Py_INCREF(mcid);
    Py_INCREF(tag);
    Py_INCREF(pend);
    Py_XDECREF(c->cur_mcid);
    Py_XDECREF(c->cur_tag);
    Py_XDECREF(c->pending);
    c->cur_mcid = mcid;
    c->cur_tag = tag;
    c->pending = pend;
    Py_DECREF(r);
    return 0;
}

/* re-read st.font_name + its parse_font_style memo — at entry, Tf, and
 * after Do (a Form XObject's Tf persists past the restore) */
static int refresh_font_style(Ctx *c)
{
    PyObject *fn = PyObject_GetAttr(c->st, a_font_name);
    if (!fn)
        return -1;
    Py_XDECREF(c->font_name);
    c->font_name = fn;
    c->fbold = 0;
    c->fital = 0;
    if (fn != Py_None) {
        PyObject *r = PyObject_CallOneArg(g_font_style, fn);
        if (!r)
            return -1;
        if (!PyTuple_Check(r) || PyTuple_GET_SIZE(r) != 2) {
            Py_DECREF(r);
            PyErr_SetString(PyExc_TypeError, "font style not a pair");
            return -1;
        }
        c->fbold = PyObject_IsTrue(PyTuple_GET_ITEM(r, 0));
        c->fital = PyObject_IsTrue(PyTuple_GET_ITEM(r, 1));
        Py_DECREF(r);
        if (c->fbold < 0 || c->fital < 0)
            return -1;
    }
    return 0;
}

/* Interpreter._emit_fragment transcription: empty/artifact gates, then
 * either the pending-ActualText absorb (delegated — it reads live state)
 * or a TextFragment appended to interp.fragments.  The caller guarantees
 * c->layout. */
static int emit_fragment(Ctx *c, PyObject *decoded, double width, double x,
                         double y)
{
    if (PyUnicode_GET_LENGTH(decoded) == 0)
        return 0;
    if (!c->noart)
        return 0;
    ensure_scales(c);
    double eff_w = width * c->xsc;
    double eff_s = c->fs * c->ysc;
    if (c->pending != Py_None) {
        /* absorb into the pending accumulator: state attrs are current
         * (write-through discipline), so the helper reads them itself */
        PyObject *m = PyObject_GetAttr(c->interp, a_pending_absorb);
        if (!m)
            return -1;
        PyObject *args[4];
        args[0] = PyFloat_FromDouble(x);
        args[1] = PyFloat_FromDouble(y);
        args[2] = PyFloat_FromDouble(eff_s);
        args[3] = PyFloat_FromDouble(eff_w);
        if (!args[0] || !args[1] || !args[2] || !args[3]) {
            Py_XDECREF(args[0]);
            Py_XDECREF(args[1]);
            Py_XDECREF(args[2]);
            Py_XDECREF(args[3]);
            Py_DECREF(m);
            return -1;
        }
        PyObject *r = PyObject_Vectorcall(m, args, 4, NULL);
        Py_DECREF(args[0]);
        Py_DECREF(args[1]);
        Py_DECREF(args[2]);
        Py_DECREF(args[3]);
        Py_DECREF(m);
        if (!r)
            return -1;
        Py_DECREF(r);
        return 0;
    }
    CFrag *frag = cfrag_alloc();
    if (!frag)
        return -1;
    Py_INCREF(decoded);
    Py_INCREF(c->font_name);
    Py_INCREF(c->fill_color);
    Py_INCREF(c->cur_mcid);
    Py_INCREF(c->cur_tag);
    frag->text = decoded;
    frag->font_name = c->font_name;
    frag->color = c->fill_color;
    frag->mcid = c->cur_mcid;
    frag->struct_tag = c->cur_tag;
    frag->x = x;
    frag->y = y;
    frag->width = eff_w;
    frag->height = eff_s;
    frag->font_size = eff_s;
    frag->is_bold = (char)c->fbold;
    frag->is_italic = (char)c->fital;
    int rc = PyList_Append(c->fragments, (PyObject *)frag);
    Py_DECREF(frag);
    return rc;
}

/* ---- cold run decode: the font's code table, else Interpreter._decode -- */
static PyObject *decode_native(Ctx *c, PyObject *key); /* fonts section */

/* (decoded, unit_width) for a run the memo missed (new ref) */
static PyObject *decode_miss(Ctx *c, PyObject *key)
{
    PyObject *hit = decode_native(c, key);
    if (hit || PyErr_Occurred())
        return hit;
    if (c->native) { /* Interpreter._decode decides: Python runs the page */
        c->bail = 1;
        return NULL;
    }
    return PyObject_CallOneArg(c->decode_meth, key);
}

/* ---- show text (transcription of the inline tail, fast_show branch) ---- */
static int do_show(Ctx *c, const unsigned char *p, Py_ssize_t len,
                   PyObject *owned)
{
    PyObject *key;
    if (owned) {
        key = owned;
        Py_INCREF(key);
    } else {
        key = PyBytes_FromStringAndSize((const char *)p, len);
        if (!key)
            return -1;
    }
    PyObject *hit = PyDict_GetItemWithError(c->font_memo, key); /* borrowed */
    if (hit) {
        Py_INCREF(hit);
    } else {
        if (PyErr_Occurred()) {
            Py_DECREF(key);
            return -1;
        }
        hit = decode_miss(c, key);
        if (!hit) {
            Py_DECREF(key);
            return -1;
        }
    }
    Py_DECREF(key);
    if (!PyTuple_Check(hit) || PyTuple_GET_SIZE(hit) != 2) {
        Py_DECREF(hit);
        PyErr_SetString(PyExc_TypeError, "decode memo entry not a pair");
        return -1;
    }
    PyObject *decoded = PyTuple_GET_ITEM(hit, 0);
    double unit_w = PyFloat_AsDouble(PyTuple_GET_ITEM(hit, 1));
    if (unit_w == -1.0 && PyErr_Occurred()) {
        Py_DECREF(hit);
        return -1;
    }
    double x, y;
    if (c->ctm_ident && !c->layout) {
        /* fast-show only: x/y feed last_x/last_y additively, where the
         * -0.0-vs-+0.0 shortcut difference cannot surface */
        x = c->tt4;
        y = c->tt5;
    } else {
        x = c->tt4 * c->ctm[0] + c->tt5 * c->ctm[2] + c->ctm[4];
        y = c->tt4 * c->ctm[1] + c->tt5 * c->ctm[3] + c->ctm[5];
    }
    if (c->noart) {
        if (c->total) {
            double dy = y - c->lasty;
            if (dy > c->nl_thr || -dy > c->nl_thr) {
                if (PyList_Append(c->text_parts, g_nl) < 0) {
                    Py_DECREF(hit);
                    return -1;
                }
                c->total += 1;
                c->lastc = '\n';
            } else if (x - c->lastx > c->l_sp) {
                if (PyList_Append(c->text_parts, g_sp) < 0) {
                    Py_DECREF(hit);
                    return -1;
                }
                c->total += 1;
                c->lastc = ' ';
            }
        }
        Py_ssize_t dlen = PyUnicode_GET_LENGTH(decoded);
        if (dlen) {
            if (PyList_Append(c->text_parts, decoded) < 0) {
                Py_DECREF(hit);
                return -1;
            }
            c->total += dlen;
            c->lastc = PyUnicode_ReadChar(decoded, dlen - 1);
        }
    }
    double width = unit_w * c->fs;
    if (c->layout && emit_fragment(c, decoded, width, x, y) < 0) {
        Py_DECREF(hit);
        return -1;
    }
    c->lastx = x + width;
    c->lasty = y;
    double tx = (c->hs == 100.0) ? width : width * c->hs / 100.0;
    c->tt4 = tx * c->la1 + c->tt4;
    c->tt5 = tx * c->la2 + c->tt5;
    Py_DECREF(hit);
    return 0;
}

/* ---- _hexval parity ----------------------------------------------------- */
static int hex_digit(unsigned char ch)
{
    if (ch >= '0' && ch <= '9')
        return ch - '0';
    if (ch >= 'A' && ch <= 'F')
        return ch - 'A' + 10;
    if (ch >= 'a' && ch <= 'f')
        return ch - 'a' + 10;
    return -1;
}

/* decode the inner hex bytes [p, p+len) per _hexval; returns owned PyBytes
 * or NULL with the Python _hexval's exact exception (called for parity). */
static PyObject *hexval_c(Ctx *c, const unsigned char *p, Py_ssize_t len)
{
    char small[256];
    char *buf = len <= (Py_ssize_t)sizeof(small)
                    ? small
                    : (char *)malloc((size_t)len ? (size_t)len : 1);
    if (!buf)
        return PyErr_NoMemory();
    Py_ssize_t m = 0;
    int bad = 0;
    for (Py_ssize_t i = 0; i < len; i++) {
        unsigned char ch = p[i];
        if (ch == ' ' || ch == '\t' || ch == '\r' || ch == '\n' || ch == 0x0c)
            continue; /* _EOL_WS removal; NUL is NOT removed (parity) */
        if (hex_digit(ch) < 0)
            bad = 1;
        buf[m++] = (char)ch;
    }
    if (bad) {
        if (buf != small)
            free(buf);
        /* exact exception parity: raise through the Python _hexval */
        PyObject *arg =
            PyBytes_FromStringAndSize((const char *)p, len);
        if (!arg)
            return NULL;
        PyObject *r = PyObject_CallOneArg(g_hexval, arg);
        Py_DECREF(arg);
        return r; /* normally NULL with binascii.Error set */
    }
    PyObject *out = PyBytes_FromStringAndSize(NULL, (m + 1) / 2);
    if (!out) {
        if (buf != small)
            free(buf);
        return NULL;
    }
    unsigned char *o = (unsigned char *)PyBytes_AS_STRING(out);
    for (Py_ssize_t i = 0; i < m; i += 2) {
        int hi = hex_digit((unsigned char)buf[i]);
        int lo = (i + 1 < m) ? hex_digit((unsigned char)buf[i + 1]) : 0;
        o[i / 2] = (unsigned char)((hi << 4) | lo);
    }
    if (buf != small)
        free(buf);
    return out;
}

/* ---- literal string reader (parity with _read_literal_string) ----------- */
static PyObject *read_literal(Ctx *c, Py_ssize_t *pos)
{
    const unsigned char *d = c->data;
    Py_ssize_t n = c->n, i = *pos;
    Py_ssize_t cap = 64, m = 0;
    unsigned char *buf = (unsigned char *)malloc(cap);
    if (!buf)
        return PyErr_NoMemory();
    int depth = 1;
    while (i < n && depth > 0) {
        unsigned char ch = d[i++];
        unsigned char outc;
        if (ch == 0x5c) { /* backslash */
            if (i >= n)
                break;
            unsigned char e = d[i++];
            if (e == 'n')
                outc = 0x0a;
            else if (e == 'r')
                outc = 0x0d;
            else if (e == 't')
                outc = 0x09;
            else if (e == 'b')
                outc = 0x08;
            else if (e == 'f')
                outc = 0x0c;
            else if (e == '(' || e == ')' || e == 0x5c)
                outc = e;
            else if (e >= '0' && e <= '7') {
                int val = e - '0', cnt = 1;
                while (cnt < 3 && i < n && d[i] >= '0' && d[i] <= '7') {
                    val = val * 8 + (d[i] - '0');
                    i++;
                    cnt++;
                }
                outc = (unsigned char)(val & 0xff);
            } else
                outc = e;
        } else if (ch == '(') {
            depth++;
            outc = ch;
        } else if (ch == ')') {
            depth--;
            if (depth <= 0)
                break;
            outc = ch;
        } else
            outc = ch;
        if (m >= cap) {
            cap *= 2;
            unsigned char *nb = (unsigned char *)realloc(buf, cap);
            if (!nb) {
                free(buf);
                return PyErr_NoMemory();
            }
            buf = nb;
        }
        buf[m++] = outc;
    }
    *pos = i;
    PyObject *out = PyBytes_FromStringAndSize((const char *)buf, m);
    free(buf);
    return out;
}

/* ---- inline image data reader (parity with _read_inline_image_data) ---- */
static int is_eol_ws(unsigned char ch)
{
    return ch == ' ' || ch == '\t' || ch == '\r' || ch == '\n' || ch == 0x0c;
}

static PyObject *read_inline_data(Ctx *c, Py_ssize_t *pos)
{
    const unsigned char *d = c->data;
    Py_ssize_t n = c->n, p = *pos;
    if (p < n && (d[p] == ' ' || d[p] == '\n' || d[p] == '\r' || d[p] == '\t')) {
        unsigned char ch = d[p];
        p++;
        if (ch == 0x0d && p < n && d[p] == 0x0a)
            p++;
    }
    Py_ssize_t start = p, i = p;
    while (i + 1 < n) {
        int preceded = (i == start) || is_eol_ws(d[i - 1]);
        if (preceded && d[i] == 'E' && d[i + 1] == 'I') {
            Py_ssize_t after = i + 2;
            unsigned char na = after < n ? d[after] : ' ';
            if (after >= n || na == ' ' || na == '\t' || na == '\r' ||
                na == '\n' || na == 0x0c || na == '/' || na == '<' ||
                na == '(' || na == '[' || na == '%') {
                Py_ssize_t end = i;
                if (end > start && is_eol_ws(d[end - 1]))
                    end--;
                *pos = after;
                return PyBytes_FromStringAndSize((const char *)(d + start),
                                                 end - start);
            }
        }
        i++;
    }
    *pos = n;
    return PyBytes_FromStringAndSize((const char *)(d + start), n - start);
}

/* ---- name decode via _NAME_MEMO (keys include the leading '/') --------- */
static PyObject *decode_name_memo(const unsigned char *p, Py_ssize_t len)
{
    /* p/len = name WITHOUT the slash; memo key = b'/'+inner (the token
     * path's keyspace; the no-slash Tf keys coexist harmlessly) */
    PyObject *key = PyBytes_FromStringAndSize(NULL, len + 1);
    if (!key)
        return NULL;
    char *kb = PyBytes_AS_STRING(key);
    kb[0] = '/';
    memcpy(kb + 1, p, (size_t)len);
    PyObject *s = PyDict_GetItemWithError(g_name_memo, key);
    if (s) {
        Py_INCREF(s);
        Py_DECREF(key);
        return s;
    }
    if (PyErr_Occurred()) {
        Py_DECREF(key);
        return NULL;
    }
    if (PyDict_GET_SIZE(g_name_memo) > 8192)
        PyDict_Clear(g_name_memo);
    PyObject *inner = PyBytes_FromStringAndSize((const char *)p, len);
    if (!inner) {
        Py_DECREF(key);
        return NULL;
    }
    s = PyObject_CallOneArg(g_decode_name, inner);
    Py_DECREF(inner);
    if (!s) {
        Py_DECREF(key);
        return NULL;
    }
    if (PyDict_SetItem(g_name_memo, key, s) < 0) {
        Py_DECREF(key);
        Py_DECREF(s);
        return NULL;
    }
    Py_DECREF(key);
    return s;
}

/* ---- number scan (parity with _NUMPAT) ---------------------------------- */
/* returns token length (>0) or 0 if no number starts at p */
static Py_ssize_t scan_number(const unsigned char *p, Py_ssize_t avail,
                              int *is_int)
{
    Py_ssize_t i = 0;
    if (i < avail && (p[i] == '+' || p[i] == '-'))
        i++;
    Py_ssize_t ds = i;
    while (i < avail && p[i] >= '0' && p[i] <= '9')
        i++;
    if (i > ds) { /* \d+ then optional .\d* */
        if (i < avail && p[i] == '.') {
            i++;
            while (i < avail && p[i] >= '0' && p[i] <= '9')
                i++;
            *is_int = 0;
        } else
            *is_int = 1;
        return i;
    }
    if (i < avail && p[i] == '.') { /* \.\d+ */
        i++;
        Py_ssize_t fs = i;
        while (i < avail && p[i] >= '0' && p[i] <= '9')
            i++;
        if (i > fs) {
            *is_int = 0;
            return i;
        }
    }
    return 0;
}

static double parse_double(const unsigned char *p, Py_ssize_t len)
{
    char small[64];
    if (len < (Py_ssize_t)sizeof(small)) {
        memcpy(small, p, (size_t)len);
        small[len] = 0;
        return strtod(small, NULL);
    }
    char *buf = (char *)malloc((size_t)len + 1);
    if (!buf)
        return 0.0; /* overflow-length numbers: best effort */
    memcpy(buf, p, (size_t)len);
    buf[len] = 0;
    double v = strtod(buf, NULL);
    free(buf);
    return v;
}

/* materialize a Val into a fresh Python object (for helper calls) */
static PyObject *val_to_obj(Val *v)
{
    switch (v->tag) {
    case V_NUM:
        if (v->is_int) {
            if (v->ival_ok)
                return PyLong_FromLongLong(v->ival);
            /* huge integer literal: exact via PyLong_FromString */
            {
                char *buf = (char *)malloc((size_t)v->len + 1);
                if (!buf)
                    return PyErr_NoMemory();
                memcpy(buf, v->ptr, (size_t)v->len);
                buf[v->len] = 0;
                PyObject *r = PyLong_FromString(buf, NULL, 10);
                free(buf);
                return r;
            }
        }
        return PyFloat_FromDouble(v->num);
    case V_STR:
        if (v->obj) {
            Py_INCREF(v->obj);
            return v->obj;
        }
        return PyBytes_FromStringAndSize((const char *)v->ptr, v->len);
    case V_NAME:
    case V_MARK:
    case V_OBJ:
        Py_INCREF(v->obj);
        return v->obj;
    }
    PyErr_SetString(PyExc_RuntimeError, "bad val tag");
    return NULL;
}

/* pop top-k numbers as doubles (mirror of _vnums: NUM tags only) */
static int vnums(Ctx *c, int k, double *out)
{
    if (c->sp < k)
        return 0;
    for (int i = 0; i < k; i++) {
        Val *v = &c->stk[c->sp - k + i];
        if (v->tag != V_NUM)
            return 0;
        out[i] = v->num;
    }
    return 1;
}

/* ---- TJ array execution (mirror _rarray + _show_text_array fast path) -- */
static int exec_tj(Ctx *c)
{
    /* find the array span on the stack: from top, optional AC, then
     * elements (skipping stray ACs) down to an AO; all elements must be
     * STR or NUM else the op is skipped (Python: out=None). */
    Py_ssize_t i = c->sp - 1;
    if (i >= 0 && c->stk[i].tag == V_MARK && c->stk[i].obj == g_AC)
        i--;
    Py_ssize_t lo = -1;
    for (Py_ssize_t j = i; j >= 0; j--) {
        Val *v = &c->stk[j];
        if (v->tag == V_MARK) {
            if (v->obj == g_AO) {
                lo = j;
                break;
            }
            if (v->obj == g_AC)
                continue; /* stray close markers skipped */
            return 1; /* DO/DC marker → parse error → skip */
        }
        if (v->tag != V_STR && v->tag != V_NUM)
            return 1; /* invalid element → skip */
    }
    if (lo < 0)
        return 1; /* no opening marker → parse error → skip */
    if (!c->in_text)
        return 1;
    if (c->layout) {
        /* layout-path _show_text_array: per-element advance + origins +
         * fragments (textstate.py:585) */
        double fsize = c->fs;
        double thr = c->tj_thr * fsize;
        int skip_l = !c->noart;
        for (Py_ssize_t j = lo + 1; j <= i; j++) {
            Val *v = &c->stk[j];
            if (v->tag == V_MARK)
                continue;
            double tx;
            if (v->tag == V_STR) {
                PyObject *key;
                if (v->obj) {
                    key = v->obj;
                    Py_INCREF(key);
                } else {
                    key = PyBytes_FromStringAndSize((const char *)v->ptr,
                                                    v->len);
                    if (!key)
                        return -1;
                }
                PyObject *hit = PyDict_GetItemWithError(c->font_memo, key);
                if (hit) {
                    Py_INCREF(hit);
                } else {
                    if (PyErr_Occurred()) {
                        Py_DECREF(key);
                        return -1;
                    }
                    hit = decode_miss(c, key);
                    if (!hit) {
                        Py_DECREF(key);
                        return -1;
                    }
                }
                Py_DECREF(key);
                PyObject *decoded = PyTuple_GET_ITEM(hit, 0);
                double unit_w = PyFloat_AsDouble(PyTuple_GET_ITEM(hit, 1));
                if (unit_w == -1.0 && PyErr_Occurred()) {
                    Py_DECREF(hit);
                    return -1;
                }
                Py_ssize_t dlen = PyUnicode_GET_LENGTH(decoded);
                if (!skip_l && dlen) {
                    if (PyList_Append(c->text_parts, decoded) < 0) {
                        Py_DECREF(hit);
                        return -1;
                    }
                    c->total += dlen;
                    c->lastc = PyUnicode_ReadChar(decoded, dlen - 1);
                }
                double width = unit_w * fsize;
                double fx, fy;
                origin_xy(c, &fx, &fy);
                if (emit_fragment(c, decoded, width, fx, fy) < 0) {
                    Py_DECREF(hit);
                    return -1;
                }
                tx = width * c->hs / 100.0;
                Py_DECREF(hit);
            } else { /* number */
                tx = -v->num / 1000.0 * fsize;
                if (!skip_l && tx > thr && c->total && c->lastc != ' ') {
                    if (PyList_Append(c->text_parts, g_sp) < 0)
                        return -1;
                    c->total += 1;
                    c->lastc = ' ';
                    if (c->pending == Py_None) {
                        double sx, sy;
                        origin_xy(c, &sx, &sy);
                        if (emit_fragment(c, g_sp, tx, sx, sy) < 0)
                            return -1;
                    }
                }
            }
            c->tt4 = tx * c->la1 + c->tt4;
            c->tt5 = tx * c->la2 + c->tt5;
        }
        return 1;
    }
    /* fast-path _show_text_array over elements lo+1..i (textstate.py:551) */
    int skip = !c->noart;
    double fsize = c->fs;
    double hs = c->hs / 100.0;
    double thr = c->tj_thr * fsize;
    double tx_total = 0.0;
    for (Py_ssize_t j = lo + 1; j <= i; j++) {
        Val *v = &c->stk[j];
        if (v->tag == V_MARK)
            continue; /* stray AC inside span */
        if (v->tag == V_STR) {
            PyObject *key;
            if (v->obj) {
                key = v->obj;
                Py_INCREF(key);
            } else {
                key = PyBytes_FromStringAndSize((const char *)v->ptr, v->len);
                if (!key)
                    return -1;
            }
            PyObject *hit = PyDict_GetItemWithError(c->font_memo, key);
            if (hit) {
                Py_INCREF(hit);
            } else {
                if (PyErr_Occurred()) {
                    Py_DECREF(key);
                    return -1;
                }
                hit = decode_miss(c, key);
                if (!hit) {
                    Py_DECREF(key);
                    return -1;
                }
            }
            Py_DECREF(key);
            PyObject *decoded = PyTuple_GET_ITEM(hit, 0);
            double unit_w = PyFloat_AsDouble(PyTuple_GET_ITEM(hit, 1));
            if (unit_w == -1.0 && PyErr_Occurred()) {
                Py_DECREF(hit);
                return -1;
            }
            Py_ssize_t dlen = PyUnicode_GET_LENGTH(decoded);
            if (!skip && dlen) {
                if (PyList_Append(c->text_parts, decoded) < 0) {
                    Py_DECREF(hit);
                    return -1;
                }
                c->total += dlen;
                c->lastc = PyUnicode_ReadChar(decoded, dlen - 1);
            }
            tx_total += unit_w * fsize * hs;
            Py_DECREF(hit);
        } else { /* number */
            double tx = -v->num / 1000.0 * fsize;
            if (!skip && tx > thr && c->total && c->lastc != ' ') {
                if (PyList_Append(c->text_parts, g_sp) < 0)
                    return -1;
                c->total += 1;
                c->lastc = ' ';
            }
            tx_total += tx;
        }
    }
    c->tt4 = tx_total * c->la1 + c->tt4;
    c->tt5 = tx_total * c->la2 + c->tt5;
    return 1;
}

/* ---- macro-shape lookaheads ---------------------------------------------
 * The Python loop's fused alternatives (M1/M2/B0 string-show, M5 flat-TJ)
 * defer string decoding behind the in_text gate, while the generic token
 * path decodes hex strings EAGERLY at push (raising on bad digits even
 * outside a text block).  The C scanner must make the same alternative
 * choice the regex makes, or error behavior diverges on bad hex:
 *   <bad> Tj          → M2: no decode outside text, raise inside
 *   [ <bad> ] TJ      → M5 (flat body): same gate
 *   [ <bad> /X ] TJ   → generic (body not flat): eager raise at push
 *   <bad>             → generic: eager raise
 */
static int is_ws1(unsigned char ch)
{
    return ch == 0 || ch == '\t' || ch == '\n' || ch == 0x0c ||
           ch == '\r' || ch == ' ';
}

static int is_bound(unsigned char ch)
{
    return is_ws1(ch) || ch == '(' || ch == ')' || ch == '<' || ch == '>' ||
           ch == '[' || ch == ']' || ch == '{' || ch == '}' || ch == '/' ||
           ch == '%' || ch == ';';
}

/* from k: _WS1* then 'Tj' then _BOUND; returns pos after 'Tj' or -1 */
static Py_ssize_t tj_lookahead(const unsigned char *d, Py_ssize_t n,
                               Py_ssize_t k)
{
    while (k < n && is_ws1(d[k]))
        k++;
    if (k + 1 < n && d[k] == 'T' && d[k + 1] == 'j' &&
        (k + 2 >= n || is_bound(d[k + 2])))
        return k + 2;
    return -1;
}

typedef struct {
    unsigned char is_num;
    unsigned char is_hex;
    double num;
    const unsigned char *ptr;
    Py_ssize_t len;
} TjEl;

/* M5 flat-TJ body match from `k` (just after '['); fills els (malloc'd,
 * caller frees), sets *endpos past 'TJ'. Returns count >= 0 on match,
 * -1 when the body is not flat (caller falls back to the generic AO
 * token), -2 on malloc failure. */
static Py_ssize_t flat_tj_scan(const unsigned char *d, Py_ssize_t n,
                               Py_ssize_t k, TjEl **els_out,
                               Py_ssize_t *endpos)
{
    Py_ssize_t cap = 16, cnt = 0;
    TjEl *els = (TjEl *)malloc(cap * sizeof(TjEl));
    if (!els)
        return -2;
    for (;;) {
        while (k < n && is_ws1(d[k]))
            k++;
        if (k >= n)
            goto nomatch;
        unsigned char ch = d[k];
        if (ch == ']') {
            k++;
            break;
        }
        TjEl el;
        memset(&el, 0, sizeof(el));
        if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.') {
            int is_int = 0;
            Py_ssize_t tl = scan_number(d + k, n - k, &is_int);
            if (tl <= 0)
                goto nomatch;
            el.is_num = 1;
            el.num = parse_double(d + k, tl);
            k += tl;
        } else if (ch == '(') {
            Py_ssize_t j = k + 1;
            while (j < n && d[j] != '(' && d[j] != ')' && d[j] != 0x5c)
                j++;
            if (j >= n || d[j] != ')')
                goto nomatch;
            el.ptr = d + k + 1;
            el.len = j - k - 1;
            k = j + 1;
        } else if (ch == '<') {
            Py_ssize_t j = k + 1;
            while (j < n) {
                unsigned char x = d[j];
                if ((x >= '0' && x <= '9') || (x >= 'A' && x <= 'F') ||
                    (x >= 'a' && x <= 'f') || is_ws1(x))
                    j++;
                else
                    break;
            }
            if (j >= n || d[j] != '>')
                goto nomatch;
            el.is_hex = 1;
            el.ptr = d + k + 1;
            el.len = j - k - 1;
            k = j + 1;
        } else
            goto nomatch;
        if (cnt >= cap) {
            cap *= 2;
            TjEl *ne = (TjEl *)realloc(els, cap * sizeof(TjEl));
            if (!ne) {
                free(els);
                return -2;
            }
            els = ne;
        }
        els[cnt++] = el;
    }
    while (k < n && is_ws1(d[k]))
        k++;
    if (!(k + 1 < n && d[k] == 'T' && d[k + 1] == 'J' &&
          (k + 2 >= n || is_bound(d[k + 2]))))
        goto nomatch;
    *els_out = els;
    *endpos = k + 2;
    return cnt;
nomatch:
    free(els);
    return -1;
}

/* execute a flat TJ (mirror of the M5 branch: _tj_elements decodes ALL
 * strings first — a bad hex raises before any state change — then
 * _show_text_array's fast path runs). Caller checked in_text. */
static int flat_tj_show(Ctx *c, TjEl *els, Py_ssize_t cnt)
{
    /* pass 1: materialize string bytes (the _tj_elements pass) */
    PyObject **keys = NULL;
    if (cnt) {
        keys = (PyObject **)calloc((size_t)cnt, sizeof(PyObject *));
        if (!keys) {
            PyErr_NoMemory();
            return -1;
        }
    }
    for (Py_ssize_t i = 0; i < cnt; i++) {
        if (els[i].is_num)
            continue;
        PyObject *k = els[i].is_hex
                          ? hexval_c(c, els[i].ptr, els[i].len)
                          : PyBytes_FromStringAndSize((const char *)els[i].ptr,
                                                      els[i].len);
        if (!k) {
            for (Py_ssize_t j2 = 0; j2 < i; j2++)
                Py_XDECREF(keys[j2]);
            free(keys);
            return -1;
        }
        keys[i] = k;
    }
    int skip = !c->noart;
    double fsize = c->fs;
    double hs = c->hs / 100.0;
    double thr = c->tj_thr * fsize;
    double tx_total = 0.0;
    int rc = -1;
    if (c->layout) {
        /* pass 2 (layout): per-element advance + origins + fragments
         * (textstate.py:585) */
        for (Py_ssize_t i = 0; i < cnt; i++) {
            double tx;
            if (els[i].is_num) {
                tx = -els[i].num / 1000.0 * fsize;
                if (!skip && tx > thr && c->total && c->lastc != ' ') {
                    if (PyList_Append(c->text_parts, g_sp) < 0)
                        goto done;
                    c->total += 1;
                    c->lastc = ' ';
                    if (c->pending == Py_None) {
                        double sx, sy;
                        origin_xy(c, &sx, &sy);
                        if (emit_fragment(c, g_sp, tx, sx, sy) < 0)
                            goto done;
                    }
                }
            } else {
                PyObject *hit = PyDict_GetItemWithError(c->font_memo, keys[i]);
                if (hit) {
                    Py_INCREF(hit);
                } else {
                    if (PyErr_Occurred())
                        goto done;
                    hit = decode_miss(c, keys[i]);
                    if (!hit)
                        goto done;
                }
                PyObject *decoded = PyTuple_GET_ITEM(hit, 0);
                double unit_w = PyFloat_AsDouble(PyTuple_GET_ITEM(hit, 1));
                if (unit_w == -1.0 && PyErr_Occurred()) {
                    Py_DECREF(hit);
                    goto done;
                }
                Py_ssize_t dlen = PyUnicode_GET_LENGTH(decoded);
                if (!skip && dlen) {
                    if (PyList_Append(c->text_parts, decoded) < 0) {
                        Py_DECREF(hit);
                        goto done;
                    }
                    c->total += dlen;
                    c->lastc = PyUnicode_ReadChar(decoded, dlen - 1);
                }
                double width = unit_w * fsize;
                double fx, fy;
                origin_xy(c, &fx, &fy);
                if (emit_fragment(c, decoded, width, fx, fy) < 0) {
                    Py_DECREF(hit);
                    goto done;
                }
                tx = width * c->hs / 100.0;
                Py_DECREF(hit);
            }
            c->tt4 = tx * c->la1 + c->tt4;
            c->tt5 = tx * c->la2 + c->tt5;
        }
        rc = 0;
        goto done;
    }
    /* pass 2: the _show_text_array fast path */
    for (Py_ssize_t i = 0; i < cnt; i++) {
        if (els[i].is_num) {
            double tx = -els[i].num / 1000.0 * fsize;
            if (!skip && tx > thr && c->total && c->lastc != ' ') {
                if (PyList_Append(c->text_parts, g_sp) < 0)
                    goto done;
                c->total += 1;
                c->lastc = ' ';
            }
            tx_total += tx;
            continue;
        }
        PyObject *hit = PyDict_GetItemWithError(c->font_memo, keys[i]);
        if (hit) {
            Py_INCREF(hit);
        } else {
            if (PyErr_Occurred())
                goto done;
            hit = decode_miss(c, keys[i]);
            if (!hit)
                goto done;
        }
        PyObject *decoded = PyTuple_GET_ITEM(hit, 0);
        double unit_w = PyFloat_AsDouble(PyTuple_GET_ITEM(hit, 1));
        if (unit_w == -1.0 && PyErr_Occurred()) {
            Py_DECREF(hit);
            goto done;
        }
        Py_ssize_t dlen = PyUnicode_GET_LENGTH(decoded);
        if (!skip && dlen) {
            if (PyList_Append(c->text_parts, decoded) < 0) {
                Py_DECREF(hit);
                goto done;
            }
            c->total += dlen;
            c->lastc = PyUnicode_ReadChar(decoded, dlen - 1);
        }
        tx_total += unit_w * fsize * hs;
        Py_DECREF(hit);
    }
    c->tt4 = tx_total * c->la1 + c->tt4;
    c->tt5 = tx_total * c->la2 + c->tt5;
    rc = 0;
done:
    for (Py_ssize_t i = 0; i < cnt; i++)
        Py_XDECREF(keys[i]);
    free(keys);
    return rc;
}

/* call a 1-arg interp method by attr name, discard result */
static int call_method1(Ctx *c, PyObject *meth_name, PyObject *arg)
{
    PyObject *m = PyObject_GetAttr(c->interp, meth_name);
    if (!m)
        return -1;
    PyObject *r = PyObject_CallOneArg(m, arg);
    Py_DECREF(m);
    if (!r)
        return -1;
    Py_DECREF(r);
    return 0;
}

static int refresh_font_memo(Ctx *c)
{
    PyObject *fm = PyObject_GetAttr(c->interp, a_font_memo);
    if (!fm)
        return -1;
    Py_DECREF(c->font_memo);
    c->font_memo = fm;
    return 0;
}

/* after Do: the full re-read block (content.py Do branch) */
static int resync_after_do(Ctx *c)
{
    if (resync_in(c) < 0)
        return -1;
    if (refresh_font_memo(c) < 0)
        return -1;
    PyObject *it = PyObject_GetAttr(c->interp, a_in_text);
    if (!it)
        return -1;
    c->in_text = PyObject_IsTrue(it);
    Py_DECREF(it);
    if (c->in_text < 0)
        return -1;
    if (read_mat6(c->st, a_ctm, c->ctm) < 0)
        return -1;
    update_ctm_ident(c);
    if (get_f(c->st, a_font_size, &c->fs) < 0)
        return -1;
    c->l_sp = c->sp_thr * c->fs;
    if (get_f(c->st, a_horizontal_scale, &c->hs) < 0)
        return -1;
    if (read_noart(c) < 0)
        return -1;
    /* fill_color / saved may have been restored */
    PyObject *fc = PyObject_GetAttr(c->st, a_fill_color);
    if (!fc)
        return -1;
    Py_DECREF(c->fill_color);
    c->fill_color = fc;
    {
        /* a Tf inside the XObject persists past the restore */
        PyObject *fn = PyObject_GetAttr(c->st, a_font_name);
        if (!fn)
            return -1;
        Py_XDECREF(c->tf_name);
        c->tf_name = fn;
    }
    if (c->layout) {
        /* a Form XObject's Tf persists past the restore; mc stack /
         * pending may have moved inside nested streams; CTM restored */
        if (refresh_font_style(c) < 0)
            return -1;
        if (refresh_frag_env(c) < 0)
            return -1;
        c->scale_dirty = 1;
    }
    return 0;
}

/* The fused tokenize+parse+interpret loop over c->data, shared by run_page
 * (an Interpreter behind it) and run_pages (native): 0 at the end of the
 * data, -1 on an exception or, natively, a page bail (c->bail). */
static int scan_content(Ctx *c)
{
    {
        const unsigned char *d = c->data;
        Py_ssize_t n = c->n;
        Py_ssize_t pos = 0;
        while (pos < n) {
            /* skippable prefix: whitespace runs + comments */
            unsigned char ch = d[pos];
            if (ch == 0 || ch == '\t' || ch == '\n' || ch == 0x0c ||
                ch == '\r' || ch == ' ') {
                pos++;
                continue;
            }
            if (ch == '%') {
                pos++;
                while (pos < n && d[pos] != '\r' && d[pos] != '\n')
                    pos++;
                continue;
            }
            /* token classification (generic _MASTER_FAST classes) */
            if (ch == '(') {
                /* flat string or full literal scan */
                Py_ssize_t j = pos + 1;
                while (j < n && d[j] != '(' && d[j] != ')' && d[j] != 0x5c)
                    j++;
                if (j < n && d[j] == ')') {
                    Py_ssize_t after = tj_lookahead(d, n, j + 1);
                    if (after >= 0) {
                        /* M2/M1/B0 show shape: (flat) Tj */
                        stack_clear(c);
                        if (c->in_text) {
                            if (do_show(c, d + pos + 1, j - pos - 1, NULL) < 0)
                                goto fail;
                        }
                        pos = after;
                        continue;
                    }
                    Val v = {V_STR, 0, 0, 0.0, 0, d + pos + 1, j - pos - 1,
                             NULL};
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos = j + 1;
                } else {
                    Py_ssize_t np = pos + 1;
                    PyObject *sb = read_literal(c, &np);
                    if (!sb)
                        goto fail;
                    Val v = {V_STR, 0, 0, 0.0, 0,
                             (const unsigned char *)PyBytes_AS_STRING(sb),
                             PyBytes_GET_SIZE(sb), sb};
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos = np;
                }
                continue;
            }
            if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' ||
                ch == '.') {
                int is_int = 0;
                Py_ssize_t tl = scan_number(d + pos, n - pos, &is_int);
                if (tl > 0) {
                    Val v;
                    v.tag = V_NUM;
                    v.is_int = (unsigned char)is_int;
                    v.ptr = d + pos;
                    v.len = tl;
                    v.obj = NULL;
                    v.num = parse_double(d + pos, tl);
                    v.ival_ok = 0;
                    v.ival = 0;
                    if (is_int && tl <= 18) {
                        long long iv = 0;
                        Py_ssize_t k = 0;
                        int neg = 0;
                        if (d[pos] == '+' || d[pos] == '-') {
                            neg = d[pos] == '-';
                            k = 1;
                        }
                        for (; k < tl; k++)
                            iv = iv * 10 + (d[pos + k] - '0');
                        v.ival = neg ? -iv : iv;
                        v.ival_ok = 1;
                    }
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos += tl;
                    continue;
                }
                /* fall through: +/-/. alone start an op token */
            }
            if (ch == '/') {
                Py_ssize_t j = pos + 1;
                while (j < n) {
                    unsigned char x = d[j];
                    if (x == 0 || x == '\t' || x == '\n' || x == 0x0c ||
                        x == '\r' || x == ' ' || x == '(' || x == ')' ||
                        x == '<' || x == '>' || x == '[' || x == ']' ||
                        x == '{' || x == '}' || x == '/' || x == '%')
                        break;
                    j++;
                }
                PyObject *s = decode_name_memo(d + pos + 1, j - pos - 1);
                if (!s)
                    goto fail;
                Val v = {V_NAME, 0, 0, 0.0, 0, NULL, 0, s};
                if (stack_push(c, v) < 0)
                    goto fail;
                pos = j;
                continue;
            }
            if (ch == '<') {
                if (pos + 1 < n && d[pos + 1] == '<') {
                    Val v = {V_MARK, 0, 0, 0.0, 0, NULL, 0, g_DO};
                    Py_INCREF(g_DO);
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos += 2;
                    continue;
                }
                Py_ssize_t j = pos + 1;
                while (j < n) {
                    unsigned char x = d[j];
                    if ((x >= '0' && x <= '9') || (x >= 'A' && x <= 'F') ||
                        (x >= 'a' && x <= 'f') || x == 0 || x == '\t' ||
                        x == '\n' || x == 0x0c || x == '\r' || x == ' ')
                        j++;
                    else
                        break;
                }
                if (j < n && d[j] == '>') {
                    Py_ssize_t after = tj_lookahead(d, n, j + 1);
                    if (after >= 0) {
                        /* M2/M1/B0 show shape: <hex> Tj — decode only
                         * behind the in_text gate (macro semantics) */
                        stack_clear(c);
                        if (c->in_text) {
                            PyObject *hb =
                                hexval_c(c, d + pos + 1, j - pos - 1);
                            if (!hb)
                                goto fail;
                            int r = do_show(c, NULL, 0, hb);
                            Py_DECREF(hb);
                            if (r < 0)
                                goto fail;
                        }
                        pos = after;
                        continue;
                    }
                    PyObject *hb = hexval_c(c, d + pos + 1, j - pos - 1);
                    if (!hb)
                        goto fail;
                    Val v = {V_STR, 0, 0, 0.0, 0,
                             (const unsigned char *)PyBytes_AS_STRING(hb),
                             PyBytes_GET_SIZE(hb), hb};
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos = j + 1;
                } else {
                    pos++; /* unmatched '<': finditer skips one byte */
                }
                continue;
            }
            if (ch == '>') {
                if (pos + 1 < n && d[pos + 1] == '>') {
                    Val v = {V_MARK, 0, 0, 0.0, 0, NULL, 0, g_DC};
                    Py_INCREF(g_DC);
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos += 2;
                } else
                    pos++; /* lone '>' unmatched */
                continue;
            }
            if (ch == '[') {
                TjEl *els = NULL;
                Py_ssize_t endpos = 0;
                Py_ssize_t cnt = flat_tj_scan(d, n, pos + 1, &els, &endpos);
                if (cnt == -2) {
                    PyErr_NoMemory();
                    goto fail;
                }
                if (cnt >= 0) {
                    /* M5 flat-TJ shape: [ ... ] TJ */
                    stack_clear(c);
                    int r = 0;
                    if (c->in_text)
                        r = flat_tj_show(c, els, cnt);
                    free(els);
                    if (r < 0)
                        goto fail;
                    pos = endpos;
                    continue;
                }
                Val v = {V_MARK, 0, 0, 0.0, 0, NULL, 0, g_AO};
                Py_INCREF(g_AO);
                if (stack_push(c, v) < 0)
                    goto fail;
                pos++;
                continue;
            }
            if (ch == ']') {
                Val v = {V_MARK, 0, 0, 0.0, 0, NULL, 0, g_AC};
                Py_INCREF(g_AC);
                if (stack_push(c, v) < 0)
                    goto fail;
                pos++;
                continue;
            }
            if (ch == ';' || ch == ')' || ch == '{' || ch == '}') {
                pos++; /* skipd: dropped */
                continue;
            }
            /* operator token: [^ws ( ) < > [ ] { } / % ;]+ */
            {
                Py_ssize_t j = pos;
                while (j < n) {
                    unsigned char x = d[j];
                    if (x == 0 || x == '\t' || x == '\n' || x == 0x0c ||
                        x == '\r' || x == ' ' || x == '(' || x == ')' ||
                        x == '<' || x == '>' || x == '[' || x == ']' ||
                        x == '{' || x == '}' || x == '/' || x == '%' ||
                        x == ';')
                        break;
                    j++;
                }
                const unsigned char *op = d + pos;
                Py_ssize_t ol = j - pos;
                pos = j;
                /* pending show bytes (consumed after the stack clear) */
                const unsigned char *tbp = NULL;
                Py_ssize_t tbl = 0;
                PyObject *tbo = NULL;

                if (ol == 2 && op[0] == 'T' && op[1] == 'j') {
                    if (c->sp > 0 && c->stk[c->sp - 1].tag == V_STR &&
                        c->in_text) {
                        Val *v = &c->stk[c->sp - 1];
                        tbp = v->ptr;
                        tbl = v->len;
                        tbo = v->obj;
                        Py_XINCREF(tbo);
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'd') {
                    double xy[2];
                    if (vnums(c, 2, xy)) {
                        c->lt4 = xy[0] * c->la1 + xy[1] * c->la3 + c->lt4;
                        c->lt5 = xy[0] * c->la2 + xy[1] * c->la4 + c->lt5;
                        c->tt4 = c->lt4;
                        c->tt5 = c->lt5;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'm') {
                    double v6[6];
                    if (vnums(c, 6, v6)) {
                        c->la1 = v6[0];
                        c->la2 = v6[1];
                        c->la3 = v6[2];
                        c->la4 = v6[3];
                        c->lt4 = v6[4];
                        c->lt5 = v6[5];
                        c->tt4 = c->lt4;
                        c->tt5 = c->lt5;
                        c->scale_dirty = 1;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'f') {
                    if (c->sp >= 2 && c->stk[c->sp - 2].tag == V_NAME &&
                        c->stk[c->sp - 1].tag == V_NUM) {
                        PyObject *s = c->stk[c->sp - 2].obj;
                        double sz = c->stk[c->sp - 1].num;
                        if (c->native) {
                            if (s != c->tf_name && native_font(c, s) < 0)
                                goto fail;
                            c->fs = sz;
                            c->l_sp = c->sp_thr * c->fs;
                        } else if (s == c->tf_name && sz == c->fs) {
                            /* same memoized name object, same size:
                             * every effect (attrs, memo, l_sp, style)
                             * is already in place — skip the Python
                             * round-trip */
                        } else {
                        if (PyObject_SetAttr(c->st, a_font_name, s) < 0)
                            goto fail;
                        if (set_f(c->st, a_font_size, sz) < 0)
                            goto fail;
                        c->fs = sz;
                        c->l_sp = c->sp_thr * c->fs;
                        Py_INCREF(s);
                        Py_XDECREF(c->tf_name);
                        c->tf_name = s;
                        if (call_method1(c, a_set_font_memo, s) < 0)
                            goto fail;
                        if (refresh_font_memo(c) < 0)
                            goto fail;
                        if (c->layout && refresh_font_style(c) < 0)
                            goto fail;
                        }
                    }
                } else if (ol == 2 && op[0] == 'B' && op[1] == 'T') {
                    c->in_text = 1;
                    c->la1 = 1.0;
                    c->la2 = 0.0;
                    c->la3 = 0.0;
                    c->la4 = 1.0;
                    c->lt4 = c->lt5 = c->tt4 = c->tt5 = 0.0;
                    c->scale_dirty = 1;
                } else if (ol == 2 && op[0] == 'E' && op[1] == 'T') {
                    c->in_text = 0;
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'J') {
                    if (exec_tj(c) < 0)
                        goto fail;
                } else if (ol == 2 && op[0] == 'T' && op[1] == '*') {
                    double lead = c->leading;
                    if (!c->native && get_f(c->st, a_leading, &lead) < 0)
                        goto fail;
                    c->lt4 = -lead * c->la3 + c->lt4;
                    c->lt5 = -lead * c->la4 + c->lt5;
                    c->tt4 = c->lt4;
                    c->tt5 = c->lt5;
                } else if (ol == 1 && (op[0] == '\'' || op[0] == '"')) {
                    int ok;
                    if (op[0] == '\'')
                        ok = c->sp > 0 && c->stk[c->sp - 1].tag == V_STR;
                    else
                        ok = c->sp >= 3 &&
                             c->stk[c->sp - 1].tag == V_STR &&
                             c->stk[c->sp - 2].tag == V_NUM &&
                             c->stk[c->sp - 3].tag == V_NUM;
                    if (ok && c->in_text && c->native) {
                        if (native_line_show(c, &c->stk[c->sp - 1]) < 0)
                            goto fail;
                    } else if (ok && c->in_text) {
                        if (op[0] == '"') {
                            if (set_f(c->st, a_word_space,
                                      c->stk[c->sp - 3].num) < 0)
                                goto fail;
                            if (set_f(c->st, a_char_space,
                                      c->stk[c->sp - 2].num) < 0)
                                goto fail;
                        }
                        Val *v = &c->stk[c->sp - 1];
                        PyObject *sb = val_to_obj(v);
                        if (!sb)
                            goto fail;
                        if (sync_out(c) < 0) {
                            Py_DECREF(sb);
                            goto fail;
                        }
                        int r = call_method1(c, a_next_line_show, sb);
                        Py_DECREF(sb);
                        if (r < 0)
                            goto fail;
                        if (resync_in(c) < 0)
                            goto fail;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'L') {
                    double v1[1];
                    if (vnums(c, 1, v1)) {
                        c->leading = v1[0];
                        if (!c->native &&
                            set_f(c->st, a_leading, v1[0]) < 0)
                            goto fail;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'c') {
                    double v1[1];
                    if (vnums(c, 1, v1)) {
                        if (!c->native &&
                            set_f(c->st, a_char_space, v1[0]) < 0)
                            goto fail;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'w') {
                    double v1[1];
                    if (vnums(c, 1, v1)) {
                        if (!c->native &&
                            set_f(c->st, a_word_space, v1[0]) < 0)
                            goto fail;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'z') {
                    double v1[1];
                    if (vnums(c, 1, v1)) {
                        if (!c->native &&
                            set_f(c->st, a_horizontal_scale, v1[0]) < 0)
                            goto fail;
                        c->hs = v1[0];
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 's') {
                    double v1[1];
                    if (vnums(c, 1, v1)) {
                        if (!c->native &&
                            set_f(c->st, a_text_rise, v1[0]) < 0)
                            goto fail;
                    }
                } else if (ol == 2 && op[0] == 'T' && op[1] == 'r') {
                    if (!c->native && c->sp > 0 &&
                        c->stk[c->sp - 1].tag == V_NUM &&
                        c->stk[c->sp - 1].is_int) {
                        Val *v = &c->stk[c->sp - 1];
                        PyObject *iv = val_to_obj(v);
                        if (!iv)
                            goto fail;
                        int r = PyObject_SetAttr(c->st, a_render_mode, iv);
                        Py_DECREF(iv);
                        if (r < 0)
                            goto fail;
                    }
                } else if (ol == 2 && op[0] == 'c' && op[1] == 'm') {
                    double v6[6];
                    if (vnums(c, 6, v6)) {
                        double o0 = c->ctm[0], o1 = c->ctm[1], o2 = c->ctm[2],
                               o3 = c->ctm[3], o4 = c->ctm[4], o5 = c->ctm[5];
                        double nc[6];
                        nc[0] = v6[0] * o0 + v6[1] * o2;
                        nc[1] = v6[0] * o1 + v6[1] * o3;
                        nc[2] = v6[2] * o0 + v6[3] * o2;
                        nc[3] = v6[2] * o1 + v6[3] * o3;
                        nc[4] = v6[4] * o0 + v6[5] * o2 + o4;
                        nc[5] = v6[4] * o1 + v6[5] * o3 + o5;
                        memcpy(c->ctm, nc, sizeof(nc));
                        update_ctm_ident(c);
                        c->scale_dirty = 1;
                        if (!c->native) {
                            PyObject *t = tuple6(nc[0], nc[1], nc[2], nc[3],
                                                 nc[4], nc[5]);
                            if (!t)
                                goto fail;
                            int r = PyObject_SetAttr(c->st, a_ctm, t);
                            Py_DECREF(t);
                            if (r < 0)
                                goto fail;
                        }
                    }
                } else if (c->native && ol == 1 &&
                           (op[0] == 'q' || op[0] == 'Q')) {
                    if (native_q(c, op[0] == 'q') < 0)
                        goto fail;
                } else if (c->native &&
                           ((ol == 1 && (op[0] == 'g' || op[0] == 'k')) ||
                            (ol == 2 && op[0] == 'r' && op[1] == 'g'))) {
                    /* the fill colour: only layout fragments read it */
                } else if (c->native && ol == 2 && op[0] == 'D' &&
                           op[1] == 'o') {
                    if (c->sp > 0 && c->stk[c->sp - 1].tag == V_NAME &&
                        native_do(c, c->stk[c->sp - 1].obj) < 0)
                        goto fail;
                } else if (c->native && ol == 3 && op[2] == 'C' &&
                           ((op[0] == 'B' && (op[1] == 'M' || op[1] == 'D')) ||
                            (op[0] == 'E' && op[1] == 'M'))) {
                    if (native_mc(c, op[0] == 'E' ? 'E' : op[1]) < 0)
                        goto fail;
                } else if (c->native && ol == 2 && op[0] == 'B' &&
                           op[1] == 'I') {
                    stack_clear(c);
                    if (native_bi(c, &pos) < 0)
                        goto fail;
                    continue;
                } else if (ol == 1 && op[0] == 'q') {
                    PyObject *ct = tuple6(c->ctm[0], c->ctm[1], c->ctm[2],
                                          c->ctm[3], c->ctm[4], c->ctm[5]);
                    if (!ct)
                        goto fail;
                    PyObject *pair = PyTuple_Pack(2, ct, c->fill_color);
                    Py_DECREF(ct);
                    if (!pair)
                        goto fail;
                    int r = PyList_Append(c->saved, pair);
                    Py_DECREF(pair);
                    if (r < 0)
                        goto fail;
                } else if (ol == 1 && op[0] == 'Q') {
                    Py_ssize_t sl = PyList_GET_SIZE(c->saved);
                    if (sl > 0) {
                        PyObject *pair = PyList_GET_ITEM(c->saved, sl - 1);
                        Py_INCREF(pair);
                        if (PyList_SetSlice(c->saved, sl - 1, sl, NULL) < 0) {
                            Py_DECREF(pair);
                            goto fail;
                        }
                        /* entries are (ctm, fill_color) 2-tuples; anything
                         * else (external mutation of st.saved, a future
                         * format change) must raise, not segfault */
                        if (!PyTuple_Check(pair) ||
                            PyTuple_GET_SIZE(pair) != 2) {
                            PyErr_SetString(
                                PyExc_TypeError,
                                "saved graphics entry is not a "
                                "(ctm, fill_color) 2-tuple");
                            Py_DECREF(pair);
                            goto fail;
                        }
                        PyObject *ct = PyTuple_GET_ITEM(pair, 0);
                        PyObject *fc = PyTuple_GET_ITEM(pair, 1);
                        if (!PyTuple_Check(ct) || PyTuple_GET_SIZE(ct) != 6) {
                            PyErr_SetString(
                                PyExc_TypeError,
                                "saved ctm is not a 6-tuple");
                            Py_DECREF(pair);
                            goto fail;
                        }
                        if (PyObject_SetAttr(c->st, a_ctm, ct) < 0 ||
                            PyObject_SetAttr(c->st, a_fill_color, fc) < 0) {
                            Py_DECREF(pair);
                            goto fail;
                        }
                        for (int i2 = 0; i2 < 6; i2++) {
                            c->ctm[i2] =
                                PyFloat_AsDouble(PyTuple_GET_ITEM(ct, i2));
                            if (c->ctm[i2] == -1.0 && PyErr_Occurred()) {
                                Py_DECREF(pair);
                                goto fail;
                            }
                        }
                        update_ctm_ident(c);
                        c->scale_dirty = 1;
                        Py_INCREF(fc);
                        Py_DECREF(c->fill_color);
                        c->fill_color = fc;
                        Py_DECREF(pair);
                    }
                } else if (ol == 1 && op[0] == 'g') {
                    double v1[1];
                    if (vnums(c, 1, v1)) {
                        PyObject *f = PyFloat_FromDouble(v1[0]);
                        if (!f)
                            goto fail;
                        PyObject *t = PyTuple_Pack(2, g_gray, f);
                        Py_DECREF(f);
                        if (!t)
                            goto fail;
                        int r = PyObject_SetAttr(c->st, a_fill_color, t);
                        if (r < 0) {
                            Py_DECREF(t);
                            goto fail;
                        }
                        Py_DECREF(c->fill_color);
                        c->fill_color = t;
                    }
                } else if (ol == 2 && op[0] == 'r' && op[1] == 'g') {
                    double v3[3];
                    if (vnums(c, 3, v3)) {
                        PyObject *t = Py_BuildValue("(Oddd)", g_rgb, v3[0],
                                                    v3[1], v3[2]);
                        if (!t)
                            goto fail;
                        int r = PyObject_SetAttr(c->st, a_fill_color, t);
                        if (r < 0) {
                            Py_DECREF(t);
                            goto fail;
                        }
                        Py_DECREF(c->fill_color);
                        c->fill_color = t;
                    }
                } else if (ol == 1 && op[0] == 'k') {
                    double v4[4];
                    if (vnums(c, 4, v4)) {
                        PyObject *t = Py_BuildValue("(Odddd)", g_cmyk, v4[0],
                                                    v4[1], v4[2], v4[3]);
                        if (!t)
                            goto fail;
                        int r = PyObject_SetAttr(c->st, a_fill_color, t);
                        if (r < 0) {
                            Py_DECREF(t);
                            goto fail;
                        }
                        Py_DECREF(c->fill_color);
                        c->fill_color = t;
                    }
                } else if (ol == 2 && op[0] == 'D' && op[1] == 'o') {
                    if (c->sp > 0 && c->stk[c->sp - 1].tag == V_NAME) {
                        PyObject *nm = c->stk[c->sp - 1].obj;
                        Py_INCREF(nm);
                        if (sync_out(c) < 0) {
                            Py_DECREF(nm);
                            goto fail;
                        }
                        PyObject *itv = c->in_text ? Py_True : Py_False;
                        if (PyObject_SetAttr(c->interp, a_in_text, itv) < 0) {
                            Py_DECREF(nm);
                            goto fail;
                        }
                        PyObject *m =
                            PyObject_GetAttr(c->interp, a_paint_xobject);
                        if (!m) {
                            Py_DECREF(nm);
                            goto fail;
                        }
                        PyObject *dep = PyLong_FromLong(c->depth);
                        if (!dep) {
                            Py_DECREF(m);
                            Py_DECREF(nm);
                            goto fail;
                        }
                        PyObject *r = PyObject_CallFunctionObjArgs(
                            m, nm, c->resources, dep, NULL);
                        Py_DECREF(dep);
                        Py_DECREF(m);
                        Py_DECREF(nm);
                        if (!r)
                            goto fail;
                        Py_DECREF(r);
                        if (resync_after_do(c) < 0)
                            goto fail;
                    }
                } else if (ol == 3 && op[0] == 'B' && op[1] == 'M' &&
                           op[2] == 'C') {
                    if (c->sp > 0 && c->stk[c->sp - 1].tag == V_NAME) {
                        if (call_method1(c, a_op_bmc,
                                         c->stk[c->sp - 1].obj) < 0)
                            goto fail;
                        if (read_noart(c) < 0)
                            goto fail;
                        if (c->layout && refresh_frag_env(c) < 0)
                            goto fail;
                    }
                } else if (ol == 3 && op[0] == 'B' && op[1] == 'D' &&
                           op[2] == 'C') {
                    /* materialize the stack and delegate the props parse +
                     * _op_bdc call (with the Python branch's sync) */
                    PyObject *lst = PyList_New(c->sp);
                    if (!lst)
                        goto fail;
                    for (Py_ssize_t i2 = 0; i2 < c->sp; i2++) {
                        PyObject *o = val_to_obj(&c->stk[i2]);
                        if (!o) {
                            Py_DECREF(lst);
                            goto fail;
                        }
                        PyList_SET_ITEM(lst, i2, o);
                    }
                    if (sync_out(c) < 0) {
                        Py_DECREF(lst);
                        goto fail;
                    }
                    PyObject *r = PyObject_CallFunctionObjArgs(
                        g_bdc_helper, c->interp, lst, c->resources, NULL);
                    Py_DECREF(lst);
                    if (!r)
                        goto fail;
                    Py_DECREF(r);
                    if (read_noart(c) < 0)
                        goto fail;
                    if (resync_in(c) < 0)
                        goto fail;
                    if (c->layout && refresh_frag_env(c) < 0)
                        goto fail;
                } else if (ol == 3 && op[0] == 'E' && op[1] == 'M' &&
                           op[2] == 'C') {
                    if (sync_out(c) < 0)
                        goto fail;
                    PyObject *m = PyObject_GetAttr(c->interp, a_op_emc);
                    if (!m)
                        goto fail;
                    PyObject *r = PyObject_CallNoArgs(m);
                    Py_DECREF(m);
                    if (!r)
                        goto fail;
                    Py_DECREF(r);
                    if (read_noart(c) < 0)
                        goto fail;
                    if (resync_in(c) < 0)
                        goto fail;
                    if (c->layout && refresh_frag_env(c) < 0)
                        goto fail;
                } else if (ol == 2 && op[0] == 'B' && op[1] == 'I') {
                    stack_clear(c);
                    PyObject *pp = PyLong_FromSsize_t(pos);
                    if (!pp)
                        goto fail;
                    PyObject *r = PyObject_CallFunctionObjArgs(
                        g_bi_helper, c->interp, c->data_obj, pp, NULL);
                    Py_DECREF(pp);
                    if (!r)
                        goto fail;
                    Py_ssize_t np = PyLong_AsSsize_t(r);
                    Py_DECREF(r);
                    if (np == -1 && PyErr_Occurred())
                        goto fail;
                    pos = np;
                    continue; /* restart: no stack clear tail, no show */
                } else if (ol == 2 && op[0] == 'I' && op[1] == 'D') {
                    /* stray ID: resync; swallowed payload becomes an operand
                     * no pop accepts (_InlineTok) */
                    stack_clear(c);
                    Py_ssize_t np = pos;
                    PyObject *payload = read_inline_data(c, &np);
                    if (!payload)
                        goto fail;
                    PyObject *tok =
                        PyObject_CallOneArg(g_inline_tok, payload);
                    Py_DECREF(payload);
                    if (!tok)
                        goto fail;
                    Val v = {V_OBJ, 0, 0, 0.0, 0, NULL, 0, tok};
                    if (stack_push(c, v) < 0)
                        goto fail;
                    pos = np;
                    continue;
                }
                /* every other operator: operands discarded unparsed */
                stack_clear(c);
                if (tbp != NULL || tbo != NULL) {
                    int r = do_show(c, tbp, tbl, tbo);
                    Py_XDECREF(tbo);
                    if (r < 0)
                        goto fail;
                }
                continue;
            }
        }
    }
    return 0;
fail:
    return -1;
}

/* ======================================================================== */
static PyObject *run_page(PyObject *self, PyObject *args)
{
    Ctx cx;
    Ctx *c = &cx;
    memset(c, 0, sizeof(Ctx));
    int depth;
    if (!PyArg_ParseTuple(args, "OOOi", &c->interp, &c->data_obj,
                          &c->resources, &depth))
        return NULL;
    c->depth = depth;
    if (!PyBytes_Check(c->data_obj)) {
        PyErr_SetString(PyExc_TypeError, "data must be bytes");
        return NULL;
    }
    c->data = (const unsigned char *)PyBytes_AS_STRING(c->data_obj);
    c->n = PyBytes_GET_SIZE(c->data_obj);

    /* ---- entry state read (mirror of the Python loop prologue) ---- */
    c->st = PyObject_GetAttr(c->interp, a_state);
    if (!c->st)
        return NULL;
    c->opts = PyObject_GetAttr(c->interp, a_options);
    if (!c->opts)
        goto fail_early;
    if (get_f(c->opts, a_newline_threshold, &c->nl_thr) < 0)
        goto fail_early;
    if (get_f(c->opts, a_space_threshold, &c->sp_thr) < 0)
        goto fail_early;
    if (get_f(c->opts, a_tj_space_threshold, &c->tj_thr) < 0)
        goto fail_early;
    {
        PyObject *ia = PyObject_GetAttr(c->opts, a_include_artifacts);
        if (!ia)
            goto fail_early;
        c->inc_art = PyObject_IsTrue(ia);
        Py_DECREF(ia);
        if (c->inc_art < 0)
            goto fail_early;
    }
    {
        PyObject *it = PyObject_GetAttr(c->interp, a_in_text);
        if (!it)
            goto fail_early;
        c->in_text = PyObject_IsTrue(it);
        Py_DECREF(it);
        if (c->in_text < 0)
            goto fail_early;
        PyObject *t = PyObject_GetAttr(c->interp, a_total);
        if (!t)
            goto fail_early;
        c->total = PyLong_AsLongLong(t);
        Py_DECREF(t);
        if (c->total == -1 && PyErr_Occurred())
            goto fail_early;
        if (get_f(c->interp, a_last_x, &c->lastx) < 0)
            goto fail_early;
        if (get_f(c->interp, a_last_y, &c->lasty) < 0)
            goto fail_early;
        if (read_lastc(c) < 0)
            goto fail_early;
    }
    c->text_parts = PyObject_GetAttr(c->interp, a_text_parts);
    if (!c->text_parts || !PyList_Check(c->text_parts))
        goto fail_early;
    c->font_memo = PyObject_GetAttr(c->interp, a_font_memo);
    if (!c->font_memo)
        goto fail_early;
    c->decode_meth = PyObject_GetAttr(c->interp, a_decode);
    if (!c->decode_meth)
        goto fail_early;
    c->saved = PyObject_GetAttr(c->st, a_saved);
    if (!c->saved || !PyList_Check(c->saved))
        goto fail_early;
    c->fill_color = PyObject_GetAttr(c->st, a_fill_color);
    if (!c->fill_color)
        goto fail_early;
    c->tf_name = PyObject_GetAttr(c->st, a_font_name);
    if (!c->tf_name)
        goto fail_early;
    {
        double m[6];
        if (read_mat6(c->st, a_text_line_matrix, m) < 0)
            goto fail_early;
        c->la1 = m[0];
        c->la2 = m[1];
        c->la3 = m[2];
        c->la4 = m[3];
        c->lt4 = m[4];
        c->lt5 = m[5];
        if (read_mat6(c->st, a_text_matrix, m) < 0)
            goto fail_early;
        c->tt4 = m[4];
        c->tt5 = m[5];
    }
    if (read_mat6(c->st, a_ctm, c->ctm) < 0)
        goto fail_early;
    update_ctm_ident(c);
    if (get_f(c->st, a_font_size, &c->fs) < 0)
        goto fail_early;
    if (get_f(c->st, a_horizontal_scale, &c->hs) < 0)
        goto fail_early;
    c->l_sp = c->sp_thr * c->fs;
    if (read_noart(c) < 0)
        goto fail_early;
    {
        /* layout stage: active only when the interpreter wants fragments
         * AND setup_layout installed the helpers */
        PyObject *lo = PyObject_GetAttr(c->interp, a_layout);
        if (!lo)
            goto fail_early;
        c->layout = PyObject_IsTrue(lo);
        Py_DECREF(lo);
        if (c->layout < 0)
            goto fail_early;
        if (c->layout && !g_frag_cls) {
            PyErr_SetString(PyExc_RuntimeError,
                            "layout mode requires setup_layout");
            goto fail_early;
        }
        if (c->layout) {
            c->fragments = PyObject_GetAttr(c->interp, a_fragments);
            if (!c->fragments)
                goto fail_early;
            if (!PyList_Check(c->fragments)) {
                PyErr_SetString(PyExc_TypeError,
                                "interp.fragments is not a list");
                goto fail_early;
            }
            if (refresh_font_style(c) < 0)
                goto fail_early;
            if (refresh_frag_env(c) < 0)
                goto fail_early;
            c->scale_dirty = 1;
        }
    }

    if (scan_content(c) < 0)
        goto fail;

    /* ---- finally: flush hot state back (mirror of the Python finally) -- */
    if (set_matrices(c) < 0)
        goto fail_nosync;
    {
        PyObject *itv = c->in_text ? Py_True : Py_False;
        if (PyObject_SetAttr(c->interp, a_in_text, itv) < 0)
            goto fail_nosync;
    }
    if (sync_counters_out(c) < 0)
        goto fail_nosync;
    stack_clear(c);
    free(c->stk);
    Py_DECREF(c->st);
    Py_DECREF(c->opts);
    Py_DECREF(c->text_parts);
    Py_DECREF(c->font_memo);
    Py_DECREF(c->decode_meth);
    Py_DECREF(c->saved);
    Py_DECREF(c->fill_color);
    Py_XDECREF(c->tf_name);
    Py_XDECREF(c->fragments);
    Py_XDECREF(c->font_name);
    Py_XDECREF(c->cur_mcid);
    Py_XDECREF(c->cur_tag);
    Py_XDECREF(c->pending);
    Py_RETURN_NONE;

fail:
    /* exception path: the Python loop's try/finally still writes the hot
     * state back — mirror that, preserving the in-flight exception */
    {
        PyObject *et, *ev, *tb;
        PyErr_Fetch(&et, &ev, &tb);
        set_matrices(c);
        PyObject *itv = c->in_text ? Py_True : Py_False;
        PyObject_SetAttr(c->interp, a_in_text, itv);
        sync_counters_out(c);
        PyErr_Restore(et, ev, tb);
    }
fail_nosync:
    stack_clear(c);
    free(c->stk);
    Py_XDECREF(c->st);
    Py_XDECREF(c->opts);
    Py_XDECREF(c->text_parts);
    Py_XDECREF(c->font_memo);
    Py_XDECREF(c->decode_meth);
    Py_XDECREF(c->saved);
    Py_XDECREF(c->fill_color);
    Py_XDECREF(c->tf_name);
    Py_XDECREF(c->fragments);
    Py_XDECREF(c->font_name);
    Py_XDECREF(c->cur_mcid);
    Py_XDECREF(c->cur_tag);
    Py_XDECREF(c->pending);
    return NULL;

fail_early:
    Py_XDECREF(c->st);
    Py_XDECREF(c->opts);
    Py_XDECREF(c->text_parts);
    Py_XDECREF(c->font_memo);
    Py_XDECREF(c->decode_meth);
    Py_XDECREF(c->saved);
    Py_XDECREF(c->fill_color);
    Py_XDECREF(c->tf_name);
    Py_XDECREF(c->fragments);
    Py_XDECREF(c->font_name);
    Py_XDECREF(c->cur_mcid);
    Py_XDECREF(c->cur_tag);
    Py_XDECREF(c->pending);
    return NULL;
}

/* ========================================================================
 * Indirect-object fast parse (objects.py Lexer + parse_object + the
 * reader's `N G obj … [stream]` header walk, reader.py:187).
 *
 * Happy-path only: ANY shape this parser is not byte-certain about —
 * malformed hex, lone '>', '{'/'}', unexpected keywords, oversized
 * integers, depth overflows — returns a BAIL (Python result None) and the
 * caller re-parses from the same offset with the pure-Python path, whose
 * error behavior is the contract. Encrypted documents skip this path
 * entirely (the wrapper checks the decryptor).
 * ======================================================================== */

static PyObject *g_ref_cls;          /* objects.Ref */
static PyObject *g_obj_name_memo;    /* objects._NAME_MEMO */
static PyObject *g_decode_name_obj;  /* Lexer._decode_name_bytes */

/* object-lexer token boundary: whitespace or one of ()<>[]{}/% (unlike
 * is_bound, ';' is an ordinary keyword byte outside content streams) */
static int is_obound(unsigned char ch)
{
    return is_ws1(ch) || ch == '(' || ch == ')' || ch == '<' || ch == '>' ||
           ch == '[' || ch == ']' || ch == '{' || ch == '}' || ch == '/' ||
           ch == '%';
}

static int g_ref_is_tuple; /* Ref is a field-less tuple subclass */

typedef struct {
    const unsigned char *d;
    Py_ssize_t n, pos;
    int bail; /* set → return None, caller falls back to Python */
} OLex;

/* Ref(num, gen).  Ref is a namedtuple: a tuple subclass with no instance
 * fields, so a 2-slot tuple of its type is exactly what its Python-level
 * __new__ builds (tuple_subtype_new does the same), without the call. */
static PyObject *new_ref(long long num, long long gen)
{
    if (!g_ref_is_tuple)
        return PyObject_CallFunction(g_ref_cls, "LL", num, gen);
    PyObject *a = PyLong_FromLongLong(num);
    PyObject *b = a ? PyLong_FromLongLong(gen) : NULL;
    PyTypeObject *t = (PyTypeObject *)g_ref_cls;
    PyObject *r = b ? t->tp_alloc(t, 2) : NULL;
    if (!r) {
        Py_XDECREF(a);
        Py_XDECREF(b);
        return NULL;
    }
    PyTuple_SET_ITEM(r, 0, a);
    PyTuple_SET_ITEM(r, 1, b);
    return r;
}

#define OBJ_MAX_DEPTH 128 /* objects.MAX_PARSE_DEPTH */

static void o_skip(OLex *o)
{
    const unsigned char *d = o->d;
    Py_ssize_t n = o->n, p = o->pos;
    for (;;) {
        while (p < n && is_ws1(d[p]))
            p++;
        if (p < n && d[p] == '%') { /* object-land comments end at \n only */
            while (p < n && d[p] != '\n')
                p++;
            if (p < n)
                p++;
            continue;
        }
        break;
    }
    o->pos = p;
}

/* Decoded names by raw token: a direct-mapped cache in front of
 * objects._NAME_MEMO, so a name the parser has seen costs no allocation.
 * Each slot holds the raw token (incl. slash), its Name and str(Name), the
 * exact-str dict key parse_object stores.  setup_obj empties it: a second
 * objects module brings its own Name class. */
#define NAME_SLOTS 1024
typedef struct {
    PyObject *raw, *name, *key;
} NameSlot;
static NameSlot g_names[NAME_SLOTS];

static void names_clear(void)
{
    for (int i = 0; i < NAME_SLOTS; i++) {
        Py_CLEAR(g_names[i].raw);
        Py_CLEAR(g_names[i].name);
        Py_CLEAR(g_names[i].key);
    }
}

/* name token at o->pos ('/'): its slot (borrowed; valid until the next
 * name is read, so callers take their own references at once) */
static NameSlot *o_name_slot(OLex *o)
{
    const unsigned char *d = o->d;
    Py_ssize_t n = o->n, p = o->pos + 1, start = o->pos;
    /* '/' itself is a delimiter (the name ends) */
    unsigned int h = 2166136261u;
    while (p < n && !is_obound(d[p]))
        h = (h ^ d[p++]) * 16777619u;
    Py_ssize_t len = p - start;
    NameSlot *slot = &g_names[h & (NAME_SLOTS - 1)];
    if (slot->raw && PyBytes_GET_SIZE(slot->raw) == len &&
        memcmp(PyBytes_AS_STRING(slot->raw), d + start, (size_t)len) == 0) {
        o->pos = p;
        return slot;
    }
    PyObject *raw = PyBytes_FromStringAndSize((const char *)(d + start), len);
    if (!raw)
        return NULL;
    PyObject *nm = PyDict_GetItemWithError(g_obj_name_memo, raw);
    if (nm)
        Py_INCREF(nm);
    else if (!PyErr_Occurred()) {
        if (PyDict_GET_SIZE(g_obj_name_memo) > 8192)
            PyDict_Clear(g_obj_name_memo);
        PyObject *inner = PyBytes_FromStringAndSize(
            (const char *)(d + start + 1), len - 1);
        nm = inner ? PyObject_CallOneArg(g_decode_name_obj, inner) : NULL;
        Py_XDECREF(inner);
        if (nm && PyDict_SetItem(g_obj_name_memo, raw, nm) < 0)
            Py_CLEAR(nm);
    }
    PyObject *key = nm ? PyObject_Str(nm) : NULL; /* str(Name) dict key */
    if (!key) {
        Py_DECREF(raw);
        Py_XDECREF(nm);
        return NULL;
    }
    Py_XSETREF(slot->raw, raw);
    Py_XSETREF(slot->name, nm);
    Py_XSETREF(slot->key, key);
    o->pos = p;
    return slot;
}

static PyObject *o_name(OLex *o)
{
    NameSlot *slot = o_name_slot(o);
    if (!slot)
        return NULL;
    Py_INCREF(slot->name);
    return slot->name;
}

/* literal string (objects.Lexer._read_literal_string — same escape rules
 * as the content reader) */
static PyObject *o_literal(OLex *o)
{
    Py_ssize_t p = o->pos + 1;
    Ctx dummy;
    dummy.data = o->d;
    dummy.n = o->n;
    PyObject *r = read_literal(&dummy, &p);
    o->pos = p;
    return r;
}

/* hex string per the SLOW reader (_read_hex_string): EOF-terminates,
 * invalid char → bail (Python raises PdfParseError) */
static PyObject *o_hex(OLex *o)
{
    const unsigned char *d = o->d;
    Py_ssize_t n = o->n, p = o->pos + 1;
    char small[256];
    Py_ssize_t cap = sizeof(small), m = 0;
    char *buf = small;
    while (p < n) {
        unsigned char ch = d[p];
        if (ch == '>') {
            p++;
            break;
        }
        if (hex_digit(ch) >= 0) {
            if (m >= cap) {
                Py_ssize_t nc = cap * 2;
                char *nb = (char *)malloc((size_t)nc);
                if (!nb) {
                    if (buf != small)
                        free(buf);
                    return PyErr_NoMemory();
                }
                memcpy(nb, buf, (size_t)m);
                if (buf != small)
                    free(buf);
                buf = nb;
                cap = nc;
            }
            buf[m++] = (char)ch;
        } else if (!is_ws1(ch)) {
            if (buf != small)
                free(buf);
            o->bail = 1;
            return NULL;
        }
        p++;
    }
    o->pos = p;
    PyObject *out = PyBytes_FromStringAndSize(NULL, (m + 1) / 2);
    if (!out) {
        if (buf != small)
            free(buf);
        return NULL;
    }
    unsigned char *ob = (unsigned char *)PyBytes_AS_STRING(out);
    for (Py_ssize_t i = 0; i < m; i += 2) {
        int hi = hex_digit((unsigned char)buf[i]);
        int lo = (i + 1 < m) ? hex_digit((unsigned char)buf[i + 1]) : 0;
        ob[i / 2] = (unsigned char)((hi << 4) | lo);
    }
    if (buf != small)
        free(buf);
    return out;
}

/* integer token starting at pos (already classified); 0 on bail */
static int o_int(OLex *o, long long *out, int *neg_sign)
{
    int is_int = 0;
    Py_ssize_t tl = scan_number(o->d + o->pos, o->n - o->pos, &is_int);
    if (tl <= 0 || !is_int || tl > 18) {
        o->bail = 1;
        return 0;
    }
    const unsigned char *p = o->d + o->pos;
    long long v = 0;
    Py_ssize_t k = 0;
    int neg = 0;
    if (p[0] == '+' || p[0] == '-') {
        neg = p[0] == '-';
        k = 1;
    }
    for (; k < tl; k++)
        v = v * 10 + (p[k] - '0');
    *out = neg ? -v : v;
    if (neg_sign)
        *neg_sign = neg;
    o->pos += tl;
    return 1;
}

static PyObject *o_value(OLex *o, int depth);

/* classify the token starting at o->pos (after o_skip) WITHOUT consuming:
 * 1 = the lexer would produce a token without raising, 0 = it could raise
 * or recurse unpredictably (lone '>', invalid hex, ')', lone sign) — the
 * reference-lookahead dance reads tokens it may then push back, so their
 * ERROR behavior leaks even for non-refs. */
static int o_peek_ok(OLex *o)
{
    const unsigned char *d = o->d;
    Py_ssize_t n = o->n, p = o->pos;
    if (p >= n)
        return 1; /* eof token */
    unsigned char ch = d[p];
    if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.') {
        int ii = 0;
        return scan_number(d + p, n - p, &ii) > 0 ? 1 : 0;
    }
    if (ch == '/' || ch == '(' || ch == '[' || ch == ']' || ch == '{' ||
        ch == '}')
        return 1; /* name/string/markers/brace-kw never raise */
    if (ch == '<') {
        if (p + 1 < n && d[p + 1] == '<')
            return 1;
        p++;
        while (p < n) {
            unsigned char x = d[p];
            if (x == '>')
                return 1;
            if (hex_digit(x) < 0 && !is_ws1(x))
                return 0; /* _read_hex_string raises */
            p++;
        }
        return 1; /* EOF-terminated hex: slow reader tolerates */
    }
    if (ch == '>')
        return (p + 1 < n && d[p + 1] == '>') ? 1 : 0;
    if (ch == ')')
        return 0; /* silent-skip + recursion: conservative */
    return 1; /* keyword run */
}

/* skip ONE raw token (the dict junk-key tolerance path: non-name tokens
 * between dict entries are discarded token-wise, not value-wise) */
static int o_skip_token(OLex *o)
{
    o_skip(o);
    if (o->pos >= o->n) {
        o->bail = 1; /* EOF inside dict → Python raises */
        return 0;
    }
    const unsigned char *d = o->d;
    unsigned char ch = d[o->pos];
    if (ch == '[' || ch == ']') {
        o->pos++;
        return 1;
    }
    if (ch == '<') {
        if (o->pos + 1 < o->n && d[o->pos + 1] == '<') {
            o->pos += 2;
            return 1;
        }
        PyObject *h = o_hex(o);
        if (!h)
            return 0;
        Py_DECREF(h);
        return 1;
    }
    if (ch == '(') {
        PyObject *s = o_literal(o);
        if (!s)
            return 0;
        Py_DECREF(s);
        return 1;
    }
    if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.') {
        int is_int = 0;
        Py_ssize_t tl = scan_number(o->d + o->pos, o->n - o->pos, &is_int);
        if (tl > 0) {
            o->pos += tl;
            return 1;
        }
        /* lone +/-/.: the slow lexer skips the byte and recurses into the
         * NEXT token, which can itself raise — bail */
        o->bail = 1;
        return 0;
    }
    /* '>' alone, '{', '}', junk delimiters, keywords: bail — the Python
     * path's behavior (raise / silent skip / kw) decides */
    if (!is_obound(ch) || ch == '/') {
        if (ch == '/') {
            PyObject *nm = o_name(o);
            if (!nm)
                return 0;
            Py_DECREF(nm);
            return 1;
        }
        /* keyword run */
        Py_ssize_t p = o->pos;
        while (p < o->n && !is_obound(d[p]))
            p++;
        o->pos = p;
        return 1;
    }
    o->bail = 1;
    return 0;
}

static PyObject *o_value(OLex *o, int depth)
{
    if (depth > OBJ_MAX_DEPTH) {
        o->bail = 1;
        return NULL;
    }
    o_skip(o);
    if (o->pos >= o->n) {
        o->bail = 1;
        return NULL;
    }
    const unsigned char *d = o->d;
    Py_ssize_t n = o->n;
    unsigned char ch = d[o->pos];
    if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.') {
        int is_int = 0;
        Py_ssize_t tl = scan_number(d + o->pos, n - o->pos, &is_int);
        if (tl <= 0) {
            o->bail = 1; /* lone +/-/. → slow-path garbage handling */
            return NULL;
        }
        if (!is_int) {
            double v = parse_double(d + o->pos, tl);
            o->pos += tl;
            return PyFloat_FromDouble(v);
        }
        long long val;
        o->pos -= 0;
        {
            Py_ssize_t save0 = o->pos;
            if (!o_int(o, &val, NULL)) {
                o->pos = save0;
                return NULL; /* bail set (huge int) */
            }
        }
        /* `n g R` reference lookahead (parse_object:402-419). The Python
         * token-wise dance READS up to two more tokens and pushes the
         * non-matching ones back — so a following token the lexer would
         * RAISE on (lone '>', bad hex) raises even when no Ref forms;
         * mirror by validating peeks and bailing on the uncertain ones. */
        if (val >= 0) {
            Py_ssize_t save = o->pos;
            o_skip(o);
            int is_int2 = 0;
            Py_ssize_t tl2 =
                scan_number(d + o->pos, n - o->pos, &is_int2);
            if (tl2 > 0 && is_int2 && tl2 > 18) {
                /* huge generation: Python may build Ref(val, bigint) or
                 * raise later — let Python decide */
                o->bail = 1;
                return NULL;
            }
            if (tl2 > 0 && is_int2) {
                long long gen;
                int neg = 0;
                if (!o_int(o, &gen, &neg)) {
                    o->pos = save;
                    return NULL; /* bail already set */
                }
                if (gen >= 0) {
                    Py_ssize_t save2 = o->pos;
                    o_skip(o);
                    Py_ssize_t p = o->pos;
                    if (p < n && d[p] == 'R' &&
                        (p + 1 >= n ||
                         is_obound(d[p + 1]))) {
                        o->pos = p + 1;
                        return new_ref(val, gen);
                    }
                    /* t3 is read then pushed back: its lexing must not
                     * raise */
                    if (!o_peek_ok(o)) {
                        o->bail = 1;
                        return NULL;
                    }
                    o->pos = save2;
                    o->pos = save;
                } else
                    o->pos = save; /* negative gen: t3 never read */
            } else {
                /* t2 is read then pushed back: validate its lexing */
                if (!o_peek_ok(o)) {
                    o->bail = 1;
                    return NULL;
                }
                o->pos = save;
            }
        }
        return PyLong_FromLongLong(val);
    }
    if (ch == '/')
        return o_name(o);
    if (ch == '(')
        return o_literal(o);
    if (ch == '<') {
        if (o->pos + 1 < n && d[o->pos + 1] == '<') {
            o->pos += 2;
            PyObject *dict = PyDict_New();
            if (!dict)
                return NULL;
            for (;;) {
                o_skip(o);
                if (o->pos >= n) {
                    o->bail = 1; /* unterminated dict → Python raises */
                    Py_DECREF(dict);
                    return NULL;
                }
                unsigned char kc = d[o->pos];
                if (kc == '>' && o->pos + 1 < n && d[o->pos + 1] == '>') {
                    o->pos += 2;
                    return dict;
                }
                if (kc != '/') {
                    /* junk key tolerance: discard ONE token */
                    if (!o_skip_token(o)) {
                        Py_DECREF(dict);
                        return NULL;
                    }
                    continue;
                }
                NameSlot *slot = o_name_slot(o);
                if (!slot) {
                    Py_DECREF(dict);
                    return NULL;
                }
                PyObject *keystr = slot->key; /* str(Name) key */
                Py_INCREF(keystr);
                PyObject *v = o_value(o, depth + 1);
                if (!v) {
                    Py_DECREF(keystr);
                    Py_DECREF(dict);
                    return NULL;
                }
                int r = PyDict_SetItem(dict, keystr, v);
                Py_DECREF(keystr);
                Py_DECREF(v);
                if (r < 0) {
                    Py_DECREF(dict);
                    return NULL;
                }
            }
        }
        return o_hex(o);
    }
    if (ch == '[') {
        o->pos++;
        PyObject *arr = PyList_New(0);
        if (!arr)
            return NULL;
        for (;;) {
            o_skip(o);
            if (o->pos >= n) {
                o->bail = 1; /* unterminated array → Python raises */
                Py_DECREF(arr);
                return NULL;
            }
            if (d[o->pos] == ']') {
                o->pos++;
                return arr;
            }
            PyObject *v = o_value(o, depth + 1);
            if (!v) {
                Py_DECREF(arr);
                return NULL;
            }
            int r = PyList_Append(arr, v);
            Py_DECREF(v);
            if (r < 0) {
                Py_DECREF(arr);
                return NULL;
            }
        }
    }
    /* keyword (true/false/null); anything else → bail */
    if (!is_obound(ch)) {
        Py_ssize_t p = o->pos;
        while (p < n && !is_obound(d[p]))
            p++;
        Py_ssize_t kl = p - o->pos;
        const unsigned char *kp = d + o->pos;
        if (kl == 4 && memcmp(kp, "true", 4) == 0) {
            o->pos = p;
            Py_RETURN_TRUE;
        }
        if (kl == 5 && memcmp(kp, "false", 5) == 0) {
            o->pos = p;
            Py_RETURN_FALSE;
        }
        if (kl == 4 && memcmp(kp, "null", 4) == 0) {
            o->pos = p;
            Py_RETURN_NONE;
        }
    }
    o->bail = 1; /* unexpected token/keyword/')'/'>' → Python path decides */
    return NULL;
}

/* `N G obj value [stream]` at o->pos (the body of parse_indirect, shared
 * with the document fast path below): 1 = parsed (*value is a new ref,
 * *has_stream set, o->pos after the `stream` keyword when it is), 0 = bail
 * (Python decides), -1 = a real exception (memory, callback failure). */
static int o_indirect(OLex *o, long long *num, long long *gen,
                      PyObject **value, int *has_stream)
{
    *value = NULL;
    *has_stream = 0;
    o_skip(o);
    if (o->pos >= o->n || !((o->d[o->pos] >= '0' && o->d[o->pos] <= '9') ||
                            o->d[o->pos] == '+' || o->d[o->pos] == '-'))
        return 0; /* no header → Python raises its exact error */
    if (!o_int(o, num, NULL))
        return 0;
    o_skip(o);
    if (!(o->pos < o->n && ((o->d[o->pos] >= '0' && o->d[o->pos] <= '9') ||
                            o->d[o->pos] == '+' || o->d[o->pos] == '-')))
        return 0;
    if (!o_int(o, gen, NULL))
        return 0;
    o_skip(o);
    if (!(o->pos + 2 < o->n && memcmp(o->d + o->pos, "obj", 3) == 0 &&
          (o->pos + 3 >= o->n ||
           is_obound(o->d[o->pos + 3]))))
        return 0;
    o->pos += 3;
    PyObject *v = o_value(o, 0);
    if (!v)
        return (o->bail && !PyErr_Occurred()) ? 0 : -1;
    /* post-value token: Python consumes exactly one token here and only
     * `stream` matters — but its next_token can RAISE (lone '>', invalid
     * hex), so the peek must validate like the lexer: bail on anything
     * uncertain instead of silently succeeding. */
    o_skip(o);
    if (o->pos < o->n) {
        unsigned char pc = o->d[o->pos];
        int numlike = (pc >= '0' && pc <= '9') || pc == '+' || pc == '-' ||
                      pc == '.';
        if (!numlike && (pc == '/' || !is_obound(pc))) {
            Py_ssize_t p = o->pos + (pc == '/' ? 1 : 0);
            while (p < o->n && !is_obound(o->d[p]))
                p++;
            if (pc != '/' && p - o->pos == 6 &&
                memcmp(o->d + o->pos, "stream", 6) == 0) {
                *has_stream = 1;
                o->pos = p;
                if (!PyDict_Check(v)) {
                    /* "stream keyword after non-dict object" */
                    Py_DECREF(v);
                    return 0;
                }
            }
            /* other keyword/name (endobj, …): harmless, pos unused */
        } else {
            /* delimiter-led token: validate it the lexer's way; a token
             * the lexer would raise on → bail to Python */
            if (!o_skip_token(o)) {
                Py_DECREF(v);
                return (o->bail && !PyErr_Occurred()) ? 0 : -1;
            }
        }
    }
    *value = v;
    return 1;
}

static PyObject *parse_indirect(PyObject *self, PyObject *args)
{
    PyObject *data_obj;
    Py_ssize_t offset;
    if (!PyArg_ParseTuple(args, "On", &data_obj, &offset))
        return NULL;
    if (!PyBytes_Check(data_obj)) {
        PyErr_SetString(PyExc_TypeError, "data must be bytes");
        return NULL;
    }
    OLex o;
    o.d = (const unsigned char *)PyBytes_AS_STRING(data_obj);
    o.n = PyBytes_GET_SIZE(data_obj);
    o.pos = offset >= 0 ? offset : 0;
    o.bail = 0;
    long long num, gen;
    PyObject *value;
    int has_stream;
    int rc = o_indirect(&o, &num, &gen, &value, &has_stream);
    if (rc == 0)
        Py_RETURN_NONE;
    if (rc < 0)
        return NULL;
    PyObject *r =
        Py_BuildValue("(LLOin)", num, gen, value, has_stream, o.pos);
    Py_DECREF(value);
    return r;
}

/* ========================================================================
 * HTML fast path: a transcription of CPython 3.11 html/parser.py's
 * HTMLParser (convert_charrefs=True, whole-document feed+close) FUSED
 * with html_extract._MainContentParser's consumer logic.  Operates on
 * the document's UTF-8 bytes (all markup delimiters are ASCII; multi-
 * byte sequences never contain ASCII bytes, so byte positions are safe
 * segment boundaries).  ANY construct the transcription is not certain
 * about — marked sections, non-ASCII tag/attr names, undecodable
 * chunks — sets h->bail and the caller re-runs the pure-Python path,
 * which remains the behavior authority (differential-pinned, same
 * discipline as parse_indirect).
 * ======================================================================== */

static PyObject *g_unescape;     /* html.unescape */
static PyObject *g_boiler_value; /* html_extract helper: hint match on value */
static PyObject *g_ev_text, *g_ev_img; /* event kind strings */
static PyObject *g_text_str, *g_image_str; /* span kinds */
static PyObject *g_lt_str;             /* "<" */

/* memmem replacement for the two-byte needle case (portable) */
static const unsigned char *h_find2(const unsigned char *hay, size_t n,
                                    unsigned char a, unsigned char b)
{
    const unsigned char *p = hay, *end = hay + n;
    while (p + 1 < end) {
        p = (const unsigned char *)memchr(p, a, (size_t)(end - p - 1));
        if (!p)
            return NULL;
        if (p[1] == b)
            return p;
        p++;
    }
    return NULL;
}

/* one unicode char at byte pos: *clen = byte length; returns codepoint or
 * -1 on malformed UTF-8 (caller bails) */
static long u8_char_at(const unsigned char *d, Py_ssize_t n, Py_ssize_t pos,
                       int *clen)
{
    unsigned char b = d[pos];
    if (b < 0x80) {
        *clen = 1;
        return b;
    }
    if ((b & 0xe0) == 0xc0 && pos + 1 < n) {
        *clen = 2;
        return ((long)(b & 0x1f) << 6) | (d[pos + 1] & 0x3f);
    }
    if ((b & 0xf0) == 0xe0 && pos + 2 < n) {
        *clen = 3;
        return ((long)(b & 0x0f) << 12) | ((long)(d[pos + 1] & 0x3f) << 6) |
               (d[pos + 2] & 0x3f);
    }
    if ((b & 0xf8) == 0xf0 && pos + 3 < n) {
        *clen = 4;
        return ((long)(b & 0x07) << 18) | ((long)(d[pos + 1] & 0x3f) << 12) |
               ((long)(d[pos + 2] & 0x3f) << 6) | (d[pos + 3] & 0x3f);
    }
    *clen = 1;
    return -1;
}

/* is the char AT byte pos a regex-\s char (Py_UNICODE_ISSPACE — the same
 * predicate re's unicode \s uses)? *clen = its byte length */
static int u8_isspace_at(const unsigned char *d, Py_ssize_t n,
                         Py_ssize_t pos, int *clen, int *bad)
{
    long cp = u8_char_at(d, n, pos, clen);
    if (cp < 0) {
        *bad = 1;
        return 0;
    }
    return Py_UNICODE_ISSPACE((Py_UCS4)cp);
}

/* byte length of the char ENDING at byte index end-1 (walk back over
 * continuation bytes); returns start index */
static Py_ssize_t u8_char_start_before(const unsigned char *d,
                                       Py_ssize_t end)
{
    Py_ssize_t s = end - 1;
    while (s > 0 && (d[s] & 0xc0) == 0x80)
        s--;
    return s;
}

typedef struct {
    PyObject *tag;      /* lowercased tag str (owned) */
    unsigned char cls;  /* its HT_ class bits */
    unsigned char boils;
} HElem;

typedef struct {
    const unsigned char *d;
    Py_ssize_t n;
    HElem *stack;
    Py_ssize_t sp, cap;
    int drop_depth, boiler_depth, anchor_depth;
    PyObject *seg;       /* list of str */
    long long seg_link;
    PyObject *events;    /* list of ("text", raw, link) | ("img", src) */
    PyObject *links;     /* list of (href, text) */
    PyObject *anchors;   /* list of [href, parts-list] */
    PyObject *cdata;     /* lowercased cdata elem (script/style) or NULL */
    int bail;
    int want_links;      /* 0: no anchor texts, no links (the span path) */
} H;

/* tag-name byte: [^\t\n\r\f />\x00] */
static int h_namebyte(unsigned char b)
{
    return !(b == 0x09 || b == 0x0a || b == 0x0c || b == 0x0d ||
             b == ' ' || b == '/' || b == '>' || b == 0x00);
}

static int h_push(H *h, PyObject *tag, int cls, int boils)
{
    if (h->sp >= h->cap) {
        Py_ssize_t nc = h->cap ? h->cap * 2 : 32;
        HElem *ns = (HElem *)realloc(h->stack, nc * sizeof(HElem));
        if (!ns) {
            PyErr_NoMemory();
            return -1;
        }
        h->stack = ns;
        h->cap = nc;
    }
    Py_INCREF(tag);
    h->stack[h->sp].tag = tag;
    h->stack[h->sp].cls = (unsigned char)cls;
    h->stack[h->sp].boils = (unsigned char)boils;
    h->sp++;
    return 0;
}

/* The tag names html_extract.py's sets name, classified once: a tag
 * name is looked up as it is read (h_tag_name) and its class bits ride
 * on the stack entry.  The names are interned at module init. */
enum { HT_VOID = 1, HT_DROP = 2, HT_BOIL = 4, HT_BLOCK = 8, HT_A = 16,
       HT_CDATA = 32, HT_IMG = 64, HT_BR = 128 };
typedef struct {
    const char *name;
    int cls;
    PyObject *obj;
    Py_ssize_t len;
} HTag;
static HTag h_tags[] = {
    /* _VOID */
    {"br", HT_VOID | HT_BR}, {"hr", HT_VOID}, {"img", HT_VOID | HT_IMG},
    {"meta", HT_VOID}, {"link", HT_VOID}, {"input", HT_VOID},
    {"wbr", HT_VOID}, {"source", HT_VOID},
    /* _DROP (script and style also open a cdata section) */
    {"script", HT_DROP | HT_CDATA}, {"style", HT_DROP | HT_CDATA},
    {"template", HT_DROP}, {"noscript", HT_DROP}, {"svg", HT_DROP},
    {"head", HT_DROP},
    /* _BOILER_TAGS */
    {"nav", HT_BOIL}, {"header", HT_BOIL}, {"footer", HT_BOIL},
    {"aside", HT_BOIL}, {"form", HT_BOIL}, {"button", HT_BOIL},
    /* _BLOCK */
    {"p", HT_BLOCK}, {"div", HT_BLOCK}, {"section", HT_BLOCK},
    {"article", HT_BLOCK}, {"main", HT_BLOCK}, {"body", HT_BLOCK},
    {"li", HT_BLOCK}, {"td", HT_BLOCK}, {"th", HT_BLOCK}, {"h1", HT_BLOCK},
    {"h2", HT_BLOCK}, {"h3", HT_BLOCK}, {"h4", HT_BLOCK}, {"h5", HT_BLOCK},
    {"h6", HT_BLOCK}, {"blockquote", HT_BLOCK}, {"pre", HT_BLOCK},
    {"figcaption", HT_BLOCK}, {"ul", HT_BLOCK}, {"ol", HT_BLOCK},
    {"table", HT_BLOCK}, {"tr", HT_BLOCK},
    /* the anchor */
    {"a", HT_A},
    {NULL, 0},
};
/* _BOILER_HINT plain-substring needles (the \bad\b case is special) */
static const char *const H_HINT[] = {
    "nav", "menu", "sidebar", "side-bar", "footer", "header", "banner",
    "breadcrumb", "ads", "advert", "cookie", "consent", "popup", "modal",
    "share", "social", "comment", "related", "promo", "subscribe",
    "newsletter", NULL,
};

/* h_tags by (length, first and last byte), filled at module init */
#define H_BUCKETS 128
static HTag *h_bucket[H_BUCKETS][4];

static unsigned h_tag_hash(const char *t, Py_ssize_t len)
{
    return ((unsigned char)t[0] * 7u + (unsigned char)t[len - 1] * 3u +
            (unsigned)len) % H_BUCKETS;
}

/* the entry of a lowercased tag name, or NULL */
static HTag *h_tag_find(const char *t, Py_ssize_t len)
{
    if (len > 10)
        return NULL;
    HTag **b = h_bucket[h_tag_hash(t, len)];
    for (int i = 0; i < 4 && b[i]; i++)
        if (b[i]->len == len && memcmp(b[i]->name, t, (size_t)len) == 0)
            return b[i];
    return NULL;
}

/* _BOILER_HINT.search(value) — IGNORECASE substring alternation plus
 * \bad\b.  ASCII-only fast path; any byte >= 0x80 delegates to the
 * Python helper (unicode word-boundary semantics for \b). */
static int h_hint_match(H *h, PyObject *value)
{
    Py_ssize_t vn;
    const char *vs = PyUnicode_AsUTF8AndSize(value, &vn);
    if (!vs)
        return -1;
    for (Py_ssize_t i = 0; i < vn; i++)
        if ((unsigned char)vs[i] >= 0x80) {
            PyObject *r = PyObject_CallOneArg(g_boiler_value, value);
            if (!r)
                return -1;
            int t = PyObject_IsTrue(r);
            Py_DECREF(r);
            return t;
        }
    /* lowercase copy (ASCII) */
    char buf_small[256];
    char *low = vn < (Py_ssize_t)sizeof(buf_small)
                    ? buf_small
                    : (char *)malloc((size_t)vn + 1);
    if (!low) {
        PyErr_NoMemory();
        return -1;
    }
    for (Py_ssize_t i = 0; i < vn; i++) {
        char ch = vs[i];
        low[i] = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
    }
    low[vn] = 0;
    int hit = 0;
    for (int i = 0; H_HINT[i]; i++)
        if (strstr(low, H_HINT[i])) {
            hit = 1;
            break;
        }
    if (!hit) {
        /* \bad\b: 'ad' not flanked by [a-zA-Z0-9_] */
        for (const char *p = low; (p = strstr(p, "ad")) != NULL; p++) {
            int lb = p == low ||
                     !(isalnum((unsigned char)p[-1]) || p[-1] == '_');
            char after = p[2];
            int rb = after == 0 ||
                     !(isalnum((unsigned char)after) || after == '_');
            if (lb && rb) {
                hit = 1;
                break;
            }
        }
    }
    if (low != buf_small)
        free(low);
    return hit;
}

/* regex-\s collapsed-and-stripped LENGTH of a str (the seg_link counter:
 * len(_WS.sub(' ', data).strip())) */
static long long h_collapsed_len(PyObject *s)
{
    Py_ssize_t len = PyUnicode_GET_LENGTH(s);
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    long long count = 0;
    int in_space = 0, started = 0;
    long long pending_space = 0;
    for (Py_ssize_t i = 0; i < len; i++) {
        Py_UCS4 ch = PyUnicode_READ(kind, data, i);
        if (Py_UNICODE_ISSPACE(ch)) {
            if (started && !in_space)
                pending_space = 1;
            in_space = 1;
        } else {
            count += pending_space + 1;
            pending_space = 0;
            in_space = 0;
            started = 1;
        }
    }
    return count;
}

/* _WS.sub(" ", s).strip(): runs of whitespace collapsed to one space,
 * the ends stripped (regex \s and str.strip both test Py_UNICODE_ISSPACE).
 * New ref. */
static PyObject *ws_collapse(PyObject *s)
{
    Py_ssize_t len = PyUnicode_GET_LENGTH(s), o = 0;
    int kind = PyUnicode_KIND(s), pending = 0;
    const void *data = PyUnicode_DATA(s);
    void *buf = PyMem_Malloc(len ? len * kind : 1);
    if (!buf)
        return PyErr_NoMemory();
    for (Py_ssize_t i = 0; i < len; i++) {
        Py_UCS4 ch = PyUnicode_READ(kind, data, i);
        if (Py_UNICODE_ISSPACE(ch)) {
            pending = o > 0;
            continue;
        }
        if (pending)
            PyUnicode_WRITE(kind, buf, o++, ' ');
        pending = 0;
        PyUnicode_WRITE(kind, buf, o++, ch);
    }
    PyObject *r = PyUnicode_FromKindAndData(kind, buf, o);
    PyMem_Free(buf);
    return r;
}

static int h_flush(H *h)
{
    if (PyList_GET_SIZE(h->seg) == 0)
        return 0;
    PyObject *txt = PyList_GET_SIZE(h->seg) == 1
                        ? Py_NewRef(PyList_GET_ITEM(h->seg, 0))
                        : PyUnicode_Join(g_empty, h->seg);
    if (!txt)
        return -1;
    PyObject *ev = Py_BuildValue("(OOL)", g_ev_text, txt, h->seg_link);
    Py_DECREF(txt);
    if (!ev)
        return -1;
    int rc = PyList_Append(h->events, ev);
    Py_DECREF(ev);
    if (rc < 0)
        return -1;
    if (PyList_SetSlice(h->seg, 0, PyList_GET_SIZE(h->seg), NULL) < 0)
        return -1;
    h->seg_link = 0;
    return 0;
}

/* handle_data(txt) — the consumer body */
static int h_data(H *h, PyObject *txt)
{
    Py_ssize_t tlen = PyUnicode_GET_LENGTH(txt);
    if (PyList_GET_SIZE(h->anchors) && !h->drop_depth && tlen) {
        PyObject *top = PyList_GET_ITEM(h->anchors,
                                        PyList_GET_SIZE(h->anchors) - 1);
        if (PyList_Append(PyList_GET_ITEM(top, 1), txt) < 0)
            return -1;
    }
    if (h->drop_depth || h->boiler_depth)
        return 0;
    if (!tlen)
        return 0;
    {
        /* data.isspace() — all-space strings are skipped */
        int kind = PyUnicode_KIND(txt);
        const void *data = PyUnicode_DATA(txt);
        int allspace = 1;
        for (Py_ssize_t i = 0; i < tlen; i++)
            if (!Py_UNICODE_ISSPACE(PyUnicode_READ(kind, data, i))) {
                allspace = 0;
                break;
            }
        if (allspace)
            return 0;
    }
    if (PyList_Append(h->seg, txt) < 0)
        return -1;
    if (h->anchor_depth)
        h->seg_link += h_collapsed_len(txt);
    return 0;
}

/* close one anchor: pop the top [href, parts], record the link */
static int h_close_anchor(H *h)
{
    Py_ssize_t an = PyList_GET_SIZE(h->anchors);
    if (h->anchor_depth > 0)
        h->anchor_depth--;
    if (!an)
        return 0;
    PyObject *top = PyList_GET_ITEM(h->anchors, an - 1); /* borrowed */
    Py_INCREF(top);
    if (PyList_SetSlice(h->anchors, an - 1, an, NULL) < 0) {
        Py_DECREF(top);
        return -1;
    }
    PyObject *href = PyList_GET_ITEM(top, 0);
    if (PyUnicode_GET_LENGTH(href)) {
        PyObject *joined = PyUnicode_Join(g_empty, PyList_GET_ITEM(top, 1));
        if (!joined) {
            Py_DECREF(top);
            return -1;
        }
        PyObject *coll = ws_collapse(joined);
        Py_DECREF(joined);
        if (!coll) {
            Py_DECREF(top);
            return -1;
        }
        PyObject *pair = PyTuple_Pack(2, href, coll);
        Py_DECREF(coll);
        if (!pair) {
            Py_DECREF(top);
            return -1;
        }
        int rc = PyList_Append(h->links, pair);
        Py_DECREF(pair);
        if (rc < 0) {
            Py_DECREF(top);
            return -1;
        }
    }
    Py_DECREF(top);
    return 0;
}

/* handle_starttag(tag, attrs) — consumer body; src/href = last-seen attr
 * values (dict(attrs).get semantics), hint_hit = any class/id/role value
 * matching _BOILER_HINT */
static int h_start(H *h, PyObject *tag, int cls, PyObject *src,
                   PyObject *href, int hint_hit)
{
    if (cls & HT_VOID) {
        if ((cls & HT_IMG) && !h->drop_depth && !h->boiler_depth) {
            if (h_flush(h) < 0)
                return -1;
            if (src && PyUnicode_GET_LENGTH(src)) {
                PyObject *ev = PyTuple_Pack(2, g_ev_img, src);
                if (!ev)
                    return -1;
                int rc = PyList_Append(h->events, ev);
                Py_DECREF(ev);
                if (rc < 0)
                    return -1;
            }
        } else if (cls & HT_BR) {
            if (h_flush(h) < 0)
                return -1;
        }
        return 0;
    }
    int drops = (cls & HT_DROP) != 0;
    int boils = !drops && ((cls & HT_BOIL) || hint_hit);
    if ((cls & HT_BLOCK) || boils || drops) {
        if (h_flush(h) < 0)
            return -1;
    }
    int is_a = (cls & HT_A) != 0;
    if (h_push(h, tag, cls, boils) < 0)
        return -1;
    if (drops)
        h->drop_depth++;
    if (boils)
        h->boiler_depth++;
    if (is_a)
        h->anchor_depth++;
    if (is_a && h->want_links) {
        PyObject *hv = (href && PyUnicode_GET_LENGTH(href)) ? href : g_empty;
        PyObject *parts = PyList_New(0);
        if (!parts)
            return -1;
        PyObject *entry = PyList_New(2);
        if (!entry) {
            Py_DECREF(parts);
            return -1;
        }
        Py_INCREF(hv);
        PyList_SET_ITEM(entry, 0, hv);
        PyList_SET_ITEM(entry, 1, parts);
        int rc = PyList_Append(h->anchors, entry);
        Py_DECREF(entry);
        if (rc < 0)
            return -1;
    }
    return 0;
}

/* handle_endtag(tag) */
static int h_endtag(H *h, PyObject *tag, int cls)
{
    if (cls & HT_VOID)
        return 0;
    for (Py_ssize_t i = h->sp - 1; i >= 0; i--) {
        int eq = h->stack[i].tag == tag ? 0
                                        : PyUnicode_Compare(h->stack[i].tag, tag);
        if (eq == -1 && PyErr_Occurred())
            return -1;
        if (eq != 0)
            continue;
        if ((h->stack[i].cls & HT_BLOCK) || h->stack[i].boils) {
            if (h_flush(h) < 0)
                return -1;
        }
        for (Py_ssize_t k = i; k < h->sp; k++) {
            if ((h->stack[k].cls & HT_DROP) && h->drop_depth > 0)
                h->drop_depth--;
            if (h->stack[k].boils && h->boiler_depth > 0)
                h->boiler_depth--;
            if (h->stack[k].cls & HT_A) {
                if (h_close_anchor(h) < 0)
                    return -1;
            }
        }
        for (Py_ssize_t k = i; k < h->sp; k++)
            Py_DECREF(h->stack[k].tag);
        h->sp = i;
        return 0;
    }
    return 0;
}

/* ---- HTML tokenizer (html/parser.py transcription) --------------------- */

/* decode a byte range to str, optionally applying html.unescape (the
 * convert_charrefs data path).  unescape short-circuits on '&'-free
 * chunks, so only chunks containing '&' pay the Python call. */
static PyObject *h_chunk(H *h, Py_ssize_t i, Py_ssize_t j, int unescape)
{
    if (i >= j)
        return Py_NewRef(g_empty);
    PyObject *s =
        PyUnicode_DecodeUTF8((const char *)h->d + i, j - i, "strict");
    if (!s) {
        PyErr_Clear();
        h->bail = 1; /* should be impossible: source was a valid str */
        return NULL;
    }
    if (unescape && memchr(h->d + i, '&', (size_t)(j - i))) {
        PyObject *r = PyObject_CallOneArg(g_unescape, s);
        Py_DECREF(s);
        return r;
    }
    return s;
}

static int h_data_range(H *h, Py_ssize_t i, Py_ssize_t j, int unescape)
{
    PyObject *s = h_chunk(h, i, j, unescape);
    if (!s)
        return -1;
    int rc = h_data(h, s);
    Py_DECREF(s);
    return rc;
}

/* skip regex-\s chars (unicode) from pos; -1 byte budget on malformed */
static Py_ssize_t h_skip_uws(H *h, Py_ssize_t pos)
{
    while (pos < h->n) {
        int cl, bad = 0;
        if (!u8_isspace_at(h->d, h->n, pos, &cl, &bad)) {
            if (bad)
                h->bail = 1;
            break;
        }
        pos += cl;
    }
    return pos;
}

/* (?:\s|/(?!>))* */
static Py_ssize_t h_skip_ws_slash(H *h, Py_ssize_t pos)
{
    while (pos < h->n) {
        if (h->d[pos] == '/') {
            if (pos + 1 < h->n && h->d[pos + 1] == '>')
                break;
            pos++;
            continue;
        }
        int cl, bad = 0;
        if (!u8_isspace_at(h->d, h->n, pos, &cl, &bad)) {
            if (bad)
                h->bail = 1;
            break;
        }
        pos += cl;
    }
    return pos;
}

/* lowercased ASCII str from a byte range; bails on non-ASCII (parity
 * with str.lower() would need unicode case mapping) */
static PyObject *h_lower_name(H *h, Py_ssize_t s, Py_ssize_t e)
{
    for (Py_ssize_t i = s; i < e; i++)
        if (h->d[i] >= 0x80) {
            h->bail = 1;
            return NULL;
        }
    char small[64];
    char *buf = (e - s) < (Py_ssize_t)sizeof(small)
                    ? small
                    : (char *)malloc((size_t)(e - s));
    if (!buf) {
        PyErr_NoMemory();
        return NULL;
    }
    for (Py_ssize_t i = s; i < e; i++) {
        char ch = (char)h->d[i];
        buf[i - s] = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
    }
    PyObject *r = PyUnicode_FromStringAndSize(buf, e - s);
    if (buf != small)
        free(buf);
    return r;
}

/* a tag name: h_lower_name, the interned str of a name html_extract.py
 * classifies (its class bits in *cls), else a new str (class 0) */
static PyObject *h_tag_name(H *h, Py_ssize_t s, Py_ssize_t e, int *cls)
{
    *cls = 0;
    if (e - s <= 10) {
        char t[10];
        int ascii = 1;
        for (Py_ssize_t i = s; i < e; i++) {
            char ch = (char)h->d[i];
            ascii &= h->d[i] < 0x80;
            t[i - s] = (ch >= 'A' && ch <= 'Z') ? ch + 32 : ch;
        }
        HTag *k = ascii && e > s ? h_tag_find(t, e - s) : NULL;
        if (k) {
            *cls = k->cls;
            return Py_NewRef(k->obj);
        }
    }
    return h_lower_name(h, s, e);
}

/* check_for_whole_start_tag: locatestarttagend_tolerant scan + the
 * branch ladder.  Returns endpos, or -1 (incomplete / bail set). */
static Py_ssize_t h_check_whole_start(H *h, Py_ssize_t i)
{
    const unsigned char *d = h->d;
    Py_ssize_t n = h->n;
    Py_ssize_t p = i + 2; /* '<' + leading alpha (caller verified) */
    while (p < n && h_namebyte(d[p]))
        p++;
    /* optional group: [\s/]* then attr-units (no gap between units —
     * each unit's own trailing run separates them) */
    for (;;) { /* [\s/]* */
        if (p >= n)
            break;
        if (d[p] == '/') {
            p++;
            continue;
        }
        int cl, bad = 0;
        if (!u8_isspace_at(d, n, p, &cl, &bad)) {
            if (bad) {
                h->bail = 1;
                return -1;
            }
            break;
        }
        p += cl;
    }
    for (;;) { /* attr units */
        if (p >= n)
            break;
        /* lookbehind (?<=['"\s/]) */
        Py_ssize_t ps = u8_char_start_before(d, p);
        int cl2;
        long pc = u8_char_at(d, n, ps, &cl2);
        if (pc < 0) {
            h->bail = 1;
            return -1;
        }
        if (!(pc == '\'' || pc == '"' || pc == '/' ||
              Py_UNICODE_ISSPACE((Py_UCS4)pc)))
            break;
        /* attr-name first char [^\s/>] */
        if (d[p] == '/' || d[p] == '>')
            break;
        {
            int cl, bad = 0;
            if (u8_isspace_at(d, n, p, &cl, &bad))
                break;
            if (bad) {
                h->bail = 1;
                return -1;
            }
            p += cl;
        }
        for (;;) { /* [^\s/=>]* */
            if (p >= n)
                break;
            unsigned char b = d[p];
            if (b == '/' || b == '=' || b == '>')
                break;
            int cl, bad = 0;
            if (u8_isspace_at(d, n, p, &cl, &bad))
                break;
            if (bad) {
                h->bail = 1;
                return -1;
            }
            p += cl;
        }
        /* optional (?:\s*=+\s* value \s*)? — with sre's backtracking on
         * an unterminated quote: give back one \s*₂ char (bare empty
         * value), else one '=' (bare value starting at '='), else the
         * whole group is empty */
        {
            Py_ssize_t q = p;
            Py_ssize_t e1 = h_skip_uws(h, q);
            if (h->bail)
                return -1;
            if (e1 < n && d[e1] == '=') {
                Py_ssize_t e2 = e1;
                while (e2 < n && d[e2] == '=')
                    e2++;
                Py_ssize_t e3 = h_skip_uws(h, e2);
                if (h->bail)
                    return -1;
                int okval = 1;
                Py_ssize_t v = e3;
                if (v < n && (d[v] == '\'' || d[v] == '"')) {
                    unsigned char qc = d[v];
                    const unsigned char *e = (const unsigned char *)memchr(
                        d + v + 1, qc, (size_t)(n - v - 1));
                    if (e)
                        v = (e - d) + 1;
                    else if (e3 > e2) {
                        /* bare empty value one \s char back */
                        v = u8_char_start_before(d, e3);
                    } else if (e2 - e1 >= 2) {
                        /* bare value from the last '=' */
                        v = e2 - 1;
                        while (v < n && d[v] != '>') {
                            int cl, bad = 0;
                            if (u8_isspace_at(d, n, v, &cl, &bad))
                                break;
                            if (bad) {
                                h->bail = 1;
                                return -1;
                            }
                            v += cl;
                        }
                    } else
                        okval = 0;
                } else { /* bare (?!['"])[^>\s]* — possibly empty */
                    while (v < n && d[v] != '>') {
                        int cl, bad = 0;
                        if (u8_isspace_at(d, n, v, &cl, &bad))
                            break;
                        if (bad) {
                            h->bail = 1;
                            return -1;
                        }
                        v += cl;
                    }
                }
                if (okval) {
                    v = h_skip_uws(h, v); /* \s* inside the group */
                    if (h->bail)
                        return -1;
                    p = v;
                }
                /* !okval: the whole optional group matches empty; p = q */
            }
        }
        p = h_skip_ws_slash(h, p); /* unit trailing */
        if (h->bail)
            return -1;
    }
    Py_ssize_t j = h_skip_uws(h, p); /* final \s* */
    if (h->bail)
        return -1;
    if (j < n && d[j] == '>')
        return j + 1;
    if (j < n && d[j] == '/') {
        if (j + 1 < n && d[j + 1] == '>')
            return j + 2;
        return -1; /* lone '/': buffer boundary */
    }
    if (j >= n)
        return -1; /* end of input */
    {
        unsigned char nb = d[j];
        if ((nb >= 'a' && nb <= 'z') || (nb >= 'A' && nb <= 'Z') ||
            nb == '=' || nb == '/')
            return -1; /* end of input in or before attribute value */
    }
    if (j > i)
        return j;
    return i + 1;
}

/* str.strip() of a byte range equal to ">" or "/>" ? 0 no, 1 ">", 2 "/>" */
static int h_stripped_end(H *h, Py_ssize_t s, Py_ssize_t e)
{
    while (s < e) {
        int cl, bad = 0;
        if (!u8_isspace_at(h->d, h->n > e ? e : h->n, s, &cl, &bad)) {
            if (bad) {
                h->bail = 1;
                return -1;
            }
            break;
        }
        s += cl;
    }
    while (e > s) {
        Py_ssize_t cs = u8_char_start_before(h->d, e);
        int cl, bad = 0;
        if (!u8_isspace_at(h->d, h->n, cs, &cl, &bad)) {
            if (bad) {
                h->bail = 1;
                return -1;
            }
            break;
        }
        e = cs;
    }
    if (e - s == 1 && h->d[s] == '>')
        return 1;
    if (e - s == 2 && h->d[s] == '/' && h->d[s + 1] == '>')
        return 2;
    return 0;
}

/* parse_starttag(i): returns endpos or -1 (incomplete/bail/error).
 * Real Python exceptions leave an error set with return -1 and h->bail
 * unset — callers must distinguish. */
static Py_ssize_t h_parse_starttag(H *h, Py_ssize_t i)
{
    const unsigned char *d = h->d;
    Py_ssize_t n = h->n;
    Py_ssize_t endpos = h_check_whole_start(h, i);
    if (endpos < 0)
        return -1;
    /* tagfind_tolerant at i+1 */
    Py_ssize_t name_s = i + 1;
    Py_ssize_t k = name_s + 1;
    while (k < n && h_namebyte(d[k]))
        k++;
    int cls;
    PyObject *tag = h_tag_name(h, name_s, k, &cls);
    if (!tag)
        return -1;
    k = h_skip_ws_slash(h, k);
    if (h->bail) {
        Py_DECREF(tag);
        return -1;
    }
    PyObject *src = NULL, *href = NULL;
    int hint = 0;
    int failed = 0;
    while (k < endpos) {
        /* attrfind_tolerant.match(rawdata, k) */
        Py_ssize_t ps = u8_char_start_before(d, k);
        int cl0;
        long pc = u8_char_at(d, n, ps, &cl0);
        if (pc < 0) {
            h->bail = 1;
            failed = 1;
            break;
        }
        if (!(pc == '\'' || pc == '"' || pc == '/' ||
              Py_UNICODE_ISSPACE((Py_UCS4)pc)))
            break;
        if (k >= n)
            break;
        Py_ssize_t an_s = k;
        {
            int cl, bad = 0;
            if (d[k] == '/' || d[k] == '>')
                break;
            if (u8_isspace_at(d, n, k, &cl, &bad))
                break;
            if (bad) {
                h->bail = 1;
                failed = 1;
                break;
            }
            k += cl;
        }
        while (k < n) {
            unsigned char b = d[k];
            if (b == '/' || b == '=' || b == '>')
                break;
            int cl, bad = 0;
            if (u8_isspace_at(h->d, n, k, &cl, &bad))
                break;
            if (bad) {
                h->bail = 1;
                failed = 1;
                break;
            }
            k += cl;
        }
        if (failed)
            break;
        Py_ssize_t an_e = k;
        /* optional value: (\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*))? */
        Py_ssize_t val_s = -1, val_e = -1;
        int has_rest = 0, quoted = 0;
        {
            Py_ssize_t e1 = h_skip_uws(h, k);
            if (h->bail) {
                failed = 1;
                break;
            }
            if (e1 < n && d[e1] == '=') {
                Py_ssize_t e2 = e1;
                while (e2 < n && d[e2] == '=')
                    e2++;
                Py_ssize_t e3 = h_skip_uws(h, e2);
                if (h->bail) {
                    failed = 1;
                    break;
                }
                int okval = 1;
                Py_ssize_t v = e3, ve = e3;
                int bare_from = -1;
                if (v < n && (d[v] == '\'' || d[v] == '"')) {
                    unsigned char qch = d[v];
                    const unsigned char *e = (const unsigned char *)memchr(
                        d + v + 1, qch, (size_t)(n - v - 1));
                    if (e) {
                        quoted = 1;
                        val_s = v + 1;
                        val_e = (e - d);
                        ve = val_e + 1;
                    } else if (e3 > e2) {
                        /* sre backtrack: give back one \s char → bare
                         * empty value */
                        Py_ssize_t bp = u8_char_start_before(d, e3);
                        val_s = bp;
                        val_e = bp;
                        ve = bp;
                    } else if (e2 - e1 >= 2) {
                        /* give back one '=' → bare value from it */
                        bare_from = (int)1;
                        v = e2 - 1;
                        val_s = v;
                        while (v < n && d[v] != '>') {
                            int cl, bad = 0;
                            if (u8_isspace_at(d, n, v, &cl, &bad))
                                break;
                            if (bad) {
                                h->bail = 1;
                                failed = 1;
                                break;
                            }
                            v += cl;
                        }
                        if (failed)
                            break;
                        val_e = v;
                        ve = v;
                    } else
                        okval = 0;
                } else {
                    val_s = v;
                    while (v < n && d[v] != '>') {
                        int cl, bad = 0;
                        if (u8_isspace_at(d, n, v, &cl, &bad))
                            break;
                        if (bad) {
                            h->bail = 1;
                            failed = 1;
                            break;
                        }
                        v += cl;
                    }
                    if (failed)
                        break;
                    val_e = v;
                    ve = v;
                }
                (void)bare_from;
                if (okval) {
                    has_rest = 1;
                    k = ve;
                }
                /* !okval: group empty; k stays at name end */
            }
        }
        if (failed)
            break;
        k = h_skip_ws_slash(h, k);
        if (h->bail) {
            failed = 1;
            break;
        }
        /* materialize: name lower, value (None if no rest) */
        PyObject *aname = h_lower_name(h, an_s, an_e);
        if (!aname) {
            failed = 1;
            break;
        }
        PyObject *aval = NULL; /* NULL == None */
        if (has_rest) {
            /* attrvalue possibly empty; unescape non-empty values */
            if (val_e > val_s) {
                aval = h_chunk(h, val_s, val_e, 1);
                if (!aval) {
                    Py_DECREF(aname);
                    failed = 1;
                    break;
                }
            } else {
                aval = Py_NewRef(g_empty);
            }
        }
        (void)quoted;
        const char *ans = PyUnicode_AsUTF8(aname);
        if (!ans) {
            Py_DECREF(aname);
            Py_XDECREF(aval);
            failed = 1;
            break;
        }
        if (strcmp(ans, "src") == 0) {
            Py_XDECREF(src);
            src = aval ? Py_NewRef(aval) : NULL;
        } else if (strcmp(ans, "href") == 0) {
            Py_XDECREF(href);
            href = aval ? Py_NewRef(aval) : NULL;
        } else if (!hint && aval && PyUnicode_GET_LENGTH(aval) &&
                   (strcmp(ans, "class") == 0 || strcmp(ans, "id") == 0 ||
                    strcmp(ans, "role") == 0)) {
            hint = h_hint_match(h, aval);
            if (hint < 0) {
                Py_DECREF(aname);
                Py_XDECREF(aval);
                failed = 1;
                break;
            }
        }
        Py_DECREF(aname);
        Py_XDECREF(aval);
    }
    if (failed) {
        Py_DECREF(tag);
        Py_XDECREF(src);
        Py_XDECREF(href);
        return -1;
    }
    int endkind = h_stripped_end(h, k, endpos);
    if (endkind < 0) {
        Py_DECREF(tag);
        Py_XDECREF(src);
        Py_XDECREF(href);
        return -1;
    }
    int rc = 0;
    if (endkind == 0) {
        /* junk between attrs and '>': the whole tag text becomes data
         * (raw, no unescape — parser.py:330) */
        rc = h_data_range(h, i, endpos, 0);
    } else if (endkind == 2) {
        rc = h_start(h, tag, cls, src, href, hint);
        if (rc == 0 && !(cls & HT_VOID))
            rc = h_endtag(h, tag, cls);
    } else {
        rc = h_start(h, tag, cls, src, href, hint);
        if (rc == 0 && (cls & HT_CDATA)) {
            Py_XDECREF(h->cdata);
            h->cdata = Py_NewRef(tag);
        }
    }
    Py_DECREF(tag);
    Py_XDECREF(src);
    Py_XDECREF(href);
    return rc < 0 ? -1 : endpos;
}

/* parse_endtag(i) */
static Py_ssize_t h_parse_endtag(H *h, Py_ssize_t i)
{
    const unsigned char *d = h->d;
    Py_ssize_t n = h->n;
    const unsigned char *gt = (const unsigned char *)memchr(
        d + i + 1, '>', (size_t)(n - i - 1));
    if (!gt)
        return -1;
    Py_ssize_t gtpos = (gt - d) + 1;
    /* endtagfind.match: </ \s* [a-zA-Z][-.a-zA-Z0-9:_]* \s* > */
    Py_ssize_t p = h_skip_uws(h, i + 2);
    if (h->bail)
        return -1;
    Py_ssize_t ts = -1, te = -1;
    int full = 0;
    if (p < n && ((d[p] >= 'a' && d[p] <= 'z') ||
                  (d[p] >= 'A' && d[p] <= 'Z'))) {
        ts = p;
        p++;
        while (p < n) {
            unsigned char b = d[p];
            if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
                (b >= '0' && b <= '9') || b == '-' || b == '.' ||
                b == ':' || b == '_')
                p++;
            else
                break;
        }
        te = p;
        Py_ssize_t p2 = h_skip_uws(h, p);
        if (h->bail)
            return -1;
        if (p2 < n && d[p2] == '>')
            full = 1;
    }
    if (!full) {
        if (h->cdata) {
            if (h_data_range(h, i, gtpos, 0) < 0)
                return -1;
            return gtpos;
        }
        /* tagfind_tolerant at i+2 */
        if (i + 2 < n && ((d[i + 2] >= 'a' && d[i + 2] <= 'z') ||
                          (d[i + 2] >= 'A' && d[i + 2] <= 'Z'))) {
            Py_ssize_t ns = i + 2, ne = ns + 1;
            while (ne < n && h_namebyte(d[ne]))
                ne++;
            int cls;
            PyObject *tag = h_tag_name(h, ns, ne, &cls);
            if (!tag)
                return -1;
            Py_ssize_t after = h_skip_ws_slash(h, ne);
            if (h->bail) {
                Py_DECREF(tag);
                return -1;
            }
            const unsigned char *g2 = (const unsigned char *)memchr(
                d + after, '>', (size_t)(n - after));
            if (!g2) {
                /* unreachable (endendtag found one past the name), but
                 * bail defensively rather than mirror gtpos=-1+1=0 */
                Py_DECREF(tag);
                h->bail = 1;
                return -1;
            }
            int rc = h_endtag(h, tag, cls);
            Py_DECREF(tag);
            if (rc < 0)
                return -1;
            return (g2 - d) + 1;
        }
        if (i + 3 <= n && d[i] == '<' && d[i + 1] == '/' &&
            i + 2 < n && d[i + 2] == '>')
            return i + 3;
        /* parse_bogus_comment(i): '>' from i+2 */
        {
            const unsigned char *g3 = (const unsigned char *)memchr(
                d + i + 2, '>', (size_t)(n - i - 2));
            if (!g3)
                return -1;
            return (g3 - d) + 1;
        }
    }
    {
        int cls;
        PyObject *elem = h_tag_name(h, ts, te, &cls);
        if (!elem)
            return -1;
        if (h->cdata) {
            int eq = elem == h->cdata ? 0 : PyUnicode_Compare(elem, h->cdata);
            if (eq == -1 && PyErr_Occurred()) {
                Py_DECREF(elem);
                return -1;
            }
            if (eq != 0) {
                Py_DECREF(elem);
                if (h_data_range(h, i, gtpos, 0) < 0)
                    return -1;
                return gtpos;
            }
        }
        int rc = h_endtag(h, elem, cls);
        Py_DECREF(elem);
        if (rc < 0)
            return -1;
        Py_CLEAR(h->cdata);
        return gtpos;
    }
}

/* parse_comment: '<!--' … '--\s*>' */
static Py_ssize_t h_parse_comment(H *h, Py_ssize_t i)
{
    const unsigned char *d = h->d;
    Py_ssize_t n = h->n;
    Py_ssize_t p = i + 4;
    for (;;) {
        const unsigned char *dd = h_find2(d + p, (size_t)(n - p), '-', '-');
        if (!dd)
            return -1;
        Py_ssize_t q = (dd - d) + 2;
        Py_ssize_t q2 = h_skip_uws(h, q);
        if (h->bail)
            return -1;
        if (q2 < n && d[q2] == '>')
            return q2 + 1;
        p = (dd - d) + 1;
        if (p + 2 > n)
            return -1;
    }
}

/* the cdata 'interesting' search: </\s*elem\s*> (re.I) from i; returns
 * match START or -1 */
static Py_ssize_t h_cdata_search(H *h, Py_ssize_t i)
{
    const unsigned char *d = h->d;
    Py_ssize_t n = h->n;
    const char *elem = PyUnicode_AsUTF8(h->cdata);
    if (!elem)
        return -2;
    size_t el = strlen(elem);
    Py_ssize_t p = i;
    for (;;) {
        const unsigned char *lt = (const unsigned char *)memchr(
            d + p, '<', (size_t)(n - p));
        if (!lt)
            return -1;
        Py_ssize_t s = lt - d;
        Py_ssize_t q = s + 1;
        if (q < n && d[q] == '/') {
            q = h_skip_uws(h, q + 1);
            if (h->bail)
                return -2;
            if (q + (Py_ssize_t)el <= n) {
                int ok = 1;
                for (size_t m = 0; m < el; m++) {
                    unsigned char b = d[q + (Py_ssize_t)m];
                    if (b >= 'A' && b <= 'Z')
                        b += 32;
                    if (b != (unsigned char)elem[m]) {
                        ok = 0;
                        break;
                    }
                }
                if (ok) {
                    Py_ssize_t r = h_skip_uws(h, q + (Py_ssize_t)el);
                    if (h->bail)
                        return -2;
                    if (r < n && d[r] == '>')
                        return s;
                }
            }
        }
        p = s + 1;
    }
}

/* goahead(end) from *ppos; advances *ppos to the consumed prefix.
 * Returns 0 ok (h->bail may be set), -1 on real error. */
static int h_goahead(H *h, Py_ssize_t *ppos, int end)
{
    const unsigned char *d = h->d;
    Py_ssize_t n = h->n;
    Py_ssize_t i = *ppos;
    while (i < n && !h->bail) {
        Py_ssize_t j;
        if (!h->cdata) {
            const unsigned char *lt = (const unsigned char *)memchr(
                d + i, '<', (size_t)(n - i));
            if (!lt) {
                /* trailing text: hold back if a charref may be cut */
                Py_ssize_t lo = i > n - 34 ? i : n - 34;
                Py_ssize_t amppos = -1;
                for (Py_ssize_t a = n - 1; a >= lo; a--)
                    if (d[a] == '&') {
                        amppos = a;
                        break;
                    }
                if (amppos >= 0) {
                    /* re [\s;].search from amppos */
                    int found = 0;
                    Py_ssize_t a = amppos;
                    while (a < n) {
                        if (d[a] == ';') {
                            found = 1;
                            break;
                        }
                        int cl, bad = 0;
                        if (u8_isspace_at(d, n, a, &cl, &bad)) {
                            found = 1;
                            break;
                        }
                        if (bad) {
                            h->bail = 1;
                            break;
                        }
                        a += cl;
                    }
                    if (h->bail)
                        break;
                    if (!found)
                        break; /* wait till we get all the text */
                }
                j = n;
            } else
                j = lt - d;
        } else {
            Py_ssize_t m = h_cdata_search(h, i);
            if (m == -2)
                return h->bail ? 0 : -1;
            if (m < 0)
                break; /* unterminated cdata: tail stays unflushed */
            j = m;
        }
        if (i < j) {
            if (h_data_range(h, i, j, h->cdata ? 0 : 1) < 0)
                return h->bail ? 0 : -1;
        }
        i = j;
        if (i == n)
            break;
        /* d[i] == '<' */
        Py_ssize_t k;
        unsigned char nx = i + 1 < n ? d[i + 1] : 0;
        if ((nx >= 'a' && nx <= 'z') || (nx >= 'A' && nx <= 'Z')) {
            k = h_parse_starttag(h, i);
            if (k < 0 && PyErr_Occurred())
                return -1;
            if (h->bail)
                break;
        } else if (nx == '/') {
            k = h_parse_endtag(h, i);
            if (k < 0 && PyErr_Occurred())
                return -1;
            if (h->bail)
                break;
        } else if (i + 3 < n && nx == '!' && d[i + 2] == '-' &&
                   d[i + 3] == '-') {
            k = h_parse_comment(h, i);
            if (h->bail)
                break;
        } else if (nx == '?') {
            const unsigned char *g = (const unsigned char *)memchr(
                d + i + 2, '>', (size_t)(n - i - 2));
            k = g ? (g - d) + 1 : -1;
        } else if (nx == '!') {
            /* parse_html_declaration ('<!--' handled above) */
            if (i + 2 < n && d[i + 2] == '[') {
                h->bail = 1; /* marked section: rare, Python authority */
                break;
            }
            if (i + 9 <= n && strncasecmp((const char *)d + i, "<!doctype",
                                          9) == 0) {
                const unsigned char *g = (const unsigned char *)memchr(
                    d + i + 9, '>', (size_t)(n - i - 9));
                k = g ? (g - d) + 1 : -1;
            } else {
                /* bogus comment */
                const unsigned char *g = (const unsigned char *)memchr(
                    d + i + 2, '>', (size_t)(n - i - 2));
                k = g ? (g - d) + 1 : -1;
            }
        } else if (i + 1 < n) {
            if (h_data(h, g_lt_str) < 0)
                return -1;
            k = i + 1;
        } else if (end) {
            if (h_data(h, g_lt_str) < 0)
                return -1;
            k = i + 1;
        } else
            break;
        if (h->bail)
            break;
        if (k < 0) {
            if (!end)
                break;
            const unsigned char *g = (const unsigned char *)memchr(
                d + i + 1, '>', (size_t)(n - i - 1));
            if (g)
                k = (g - d) + 1;
            else {
                const unsigned char *lt2 = (const unsigned char *)memchr(
                    d + i + 1, '<', (size_t)(n - i - 1));
                k = lt2 ? (lt2 - d) : i + 1;
            }
            if (h_data_range(h, i, k, h->cdata ? 0 : 1) < 0)
                return h->bail ? 0 : -1;
        }
        i = k;
    }
    if (!h->bail && end && i < n && !h->cdata) {
        if (h_data_range(h, i, n, 1) < 0)
            return h->bail ? 0 : -1;
        i = n;
    }
    *ppos = i;
    return 0;
}

static void h_free(H *h)
{
    for (Py_ssize_t i = 0; i < h->sp; i++)
        Py_DECREF(h->stack[i].tag);
    free(h->stack);
    Py_XDECREF(h->seg);
    Py_XDECREF(h->events);
    Py_XDECREF(h->links);
    Py_XDECREF(h->anchors);
    Py_XDECREF(h->cdata);
}

/* the tokenizer over doc into h (the caller frees it): 1 = h->events and,
 * with want_links, h->links hold the result; 0 = bail (the caller
 * re-parses with the pure-Python authority); -1 = exception */
static int html_run(H *h, PyObject *doc, int want_links)
{
    memset(h, 0, sizeof(*h));
    if (!g_unescape) {
        PyErr_SetString(PyExc_RuntimeError,
                        "html path requires setup_html");
        return -1;
    }
    Py_ssize_t n;
    const char *u8 = PyUnicode_AsUTF8AndSize(doc, &n);
    if (!u8) {
        PyErr_Clear(); /* lone surrogates etc: Python authority */
        return 0;
    }
    h->d = (const unsigned char *)u8;
    h->n = n;
    h->want_links = want_links;
    h->seg = PyList_New(0);
    h->events = PyList_New(0);
    h->links = PyList_New(0);
    h->anchors = PyList_New(0);
    if (!h->seg || !h->events || !h->links || !h->anchors)
        return -1;
    Py_ssize_t pos = 0;
    /* feed(whole doc) then close(): goahead(0) then goahead(1) over the
     * unconsumed tail (parser.py feed/close semantics) */
    if (h_goahead(h, &pos, 0) < 0)
        return -1;
    if (!h->bail && h_goahead(h, &pos, 1) < 0)
        return -1;
    if (h->bail)
        return 0;
    /* consumer close(): final flush */
    return h_flush(h) < 0 ? -1 : 1;
}

/* html_events(doc, want_links=True) -> (events, links) | None (bail);
 * with want_links false the links list stays empty */
static PyObject *html_events_py(PyObject *self, PyObject *args)
{
    PyObject *doc;
    int want_links = 1;
    if (!PyArg_ParseTuple(args, "U|p", &doc, &want_links))
        return NULL;
    H h;
    int rc = html_run(&h, doc, want_links);
    PyObject *r = rc > 0 ? PyTuple_Pack(2, h.events, h.links)
                  : rc == 0 ? Py_NewRef(Py_None) : NULL;
    h_free(&h);
    return r;
}

/* extract_html_spans' filter over the events of a finished run: images
 * as ("image", "", src), and each text segment whitespace-collapsed, kept
 * when at least min_block_chars long and at most link_density_max anchor
 * text, as ("text", text, None); appended to out.  0 ok, -1 exception. */
static int html_filter(PyObject *events, double link_density_max,
                       Py_ssize_t min_block_chars, PyObject *out)
{
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(events); i++) {
        PyObject *ev = PyList_GET_ITEM(events, i), *span;
        if (PyTuple_GET_ITEM(ev, 0) == g_ev_img) {
            span = PyTuple_Pack(3, g_image_str, g_empty,
                                PyTuple_GET_ITEM(ev, 1));
        } else {
            long long link = PyLong_AsLongLong(PyTuple_GET_ITEM(ev, 2));
            if (link == -1 && PyErr_Occurred())
                return -1;
            PyObject *text = ws_collapse(PyTuple_GET_ITEM(ev, 1));
            if (!text)
                return -1;
            Py_ssize_t len = PyUnicode_GET_LENGTH(text);
            if (len < min_block_chars ||
                (double)link / (double)(len > 1 ? len : 1) >
                    link_density_max) {
                Py_DECREF(text);
                continue;
            }
            span = PyTuple_Pack(3, g_text_str, text, Py_None);
            Py_DECREF(text);
        }
        int rc = span ? PyList_Append(out, span) : -1;
        Py_XDECREF(span);
        if (rc < 0)
            return -1;
    }
    return 0;
}

/* html_spans(doc, link_density_max, min_block_chars): extract_html_spans'
 * span list, or None (bail: the Python parser and filter decide) */
static PyObject *html_spans(PyObject *self, PyObject *args)
{
    PyObject *doc;
    double ldm;
    Py_ssize_t mbc;
    if (!PyArg_ParseTuple(args, "Udn", &doc, &ldm, &mbc))
        return NULL;
    H h;
    int rc = html_run(&h, doc, 0);
    PyObject *out = rc > 0 ? PyList_New(0) : NULL;
    if (out && html_filter(h.events, ldm, mbc, out) < 0)
        Py_CLEAR(out);
    h_free(&h);
    if (rc == 0)
        Py_RETURN_NONE;
    return out;
}

/* ========================================================================
 * Traditional xref-section fast parse (xref.py _parse_traditional_section
 * and _parse_trailer_after; xref.rs:750-911 lineage).  STRICT 20-byte-stride
 * layout only — `NNNNNNNNNN GGGGG k\x??\x??` — followed by `trailer <<…>>`.
 * Anything else (flexible spacing, comments before 'xref', truncated tables,
 * 19-byte entries, no trailer keyword, a trailer that is not a dict)
 * returns None and the Python loop, which is the behavior authority
 * including its flexible-producer fallback, re-parses from the same offset.
 * ======================================================================== */

/* ---- the xref table ----------------------------------------------------- *
 * The chain's entries, by object number, in insertion order (the order
 * the xref dict keeps), with an open-addressing index.  In the batch loop
 * an entry also holds the object fetched for it and, for an object
 * stream, its parsed members: what a reader keeps in _cache and
 * _objstm_cache.  The table is complete when chain_tab returns; a fetch
 * writes into its entries but never adds one. */
typedef struct {
    long long num, a, b, gen; /* gen: the generation obj was fetched at */
    PyObject *obj;            /* the fetched object, or NULL */
    PyObject *members;        /* an object stream's {number: value} */
    char kind;                /* 'n', 'f' or 'c' */
} XEnt;

typedef struct {
    XEnt *e;
    Py_ssize_t n, cap;
    Py_ssize_t *slot; /* index + 1 into e, 0 = empty */
    Py_ssize_t nslot; /* a power of two */
} XTab;

static Py_ssize_t xt_home(XTab *t, long long num)
{
    unsigned long long h = (unsigned long long)num * 0x9E3779B97F4A7C15ULL;
    return (Py_ssize_t)(h >> 17) & (t->nslot - 1);
}

static XEnt *xt_find(XTab *t, long long num)
{
    if (!t->nslot)
        return NULL;
    for (Py_ssize_t i = xt_home(t, num);; i = (i + 1) & (t->nslot - 1)) {
        Py_ssize_t s = t->slot[i];
        if (!s)
            return NULL;
        if (t->e[s - 1].num == num)
            return &t->e[s - 1];
    }
}

static int xt_grow(XTab *t)
{
    Py_ssize_t cap = t->cap ? t->cap * 2 : 16;
    XEnt *e = (XEnt *)realloc(t->e, sizeof(XEnt) * (size_t)cap);
    Py_ssize_t *slot = (Py_ssize_t *)calloc((size_t)cap * 2, sizeof(Py_ssize_t));
    if (!e || !slot) {
        if (e)
            t->e = e;
        free(slot);
        PyErr_NoMemory();
        return -1;
    }
    t->e = e;
    t->cap = cap;
    free(t->slot);
    t->slot = slot;
    t->nslot = cap * 2;
    for (Py_ssize_t k = 0; k < t->n; k++) {
        Py_ssize_t i = xt_home(t, e[k].num);
        while (slot[i])
            i = (i + 1) & (t->nslot - 1);
        slot[i] = k + 1;
    }
    return 0;
}

/* entries[num] = (kind, a, b), or entries.setdefault: 0, or -1 */
static int xt_put(XTab *t, long long num, char kind, long long a,
                  long long b, int replace)
{
    XEnt *x = xt_find(t, num);
    if (!x) {
        if (t->n == t->cap && xt_grow(t) < 0)
            return -1;
        Py_ssize_t i = xt_home(t, num);
        while (t->slot[i])
            i = (i + 1) & (t->nslot - 1);
        t->slot[i] = t->n + 1;
        x = &t->e[t->n++];
        memset(x, 0, sizeof(*x));
        x->num = num;
    } else if (!replace)
        return 0;
    x->kind = kind;
    x->a = a;
    x->b = b;
    return 0;
}

static void xt_free(XTab *t)
{
    for (Py_ssize_t k = 0; k < t->n; k++) {
        Py_XDECREF(t->e[k].obj);
        Py_XDECREF(t->e[k].members);
    }
    free(t->e);
    free(t->slot);
    memset(t, 0, sizeof(*t));
}

static PyObject *g_n_str, *g_f_str, *g_c_str; /* "n" / "f" / "c" */

/* the xref dict: {num: (kind, a, b)} in insertion order */
static PyObject *xt_dict(XTab *t)
{
    PyObject *d = PyDict_New();
    for (Py_ssize_t k = 0; d && k < t->n; k++) {
        XEnt *x = &t->e[k];
        PyObject *kind = x->kind == 'n' ? g_n_str : x->kind == 'f' ? g_f_str
                                                                   : g_c_str;
        PyObject *key = PyLong_FromLongLong(x->num);
        PyObject *v = key ? Py_BuildValue("(OLL)", kind, x->a, x->b) : NULL;
        if (!v || PyDict_SetItem(d, key, v) < 0)
            Py_CLEAR(d);
        Py_XDECREF(key);
        Py_XDECREF(v);
    }
    return d;
}

/* the table of an xref dict of (kind, int, int) entries (the recovery
 * scan's): 1, 0 = an entry it cannot hold, -1 = exception */
static int xt_from_dict(XTab *t, PyObject *entries)
{
    Py_ssize_t pos = 0;
    PyObject *k, *v;
    while (PyDict_Next(entries, &pos, &k, &v)) {
        int overflow = 0;
        long long num = PyLong_CheckExact(k)
                            ? PyLong_AsLongLongAndOverflow(k, &overflow)
                            : 0;
        if (!PyLong_CheckExact(k) || overflow || !PyTuple_CheckExact(v) ||
            PyTuple_GET_SIZE(v) != 3 ||
            !PyUnicode_Check(PyTuple_GET_ITEM(v, 0)) ||
            PyUnicode_GET_LENGTH(PyTuple_GET_ITEM(v, 0)) != 1 ||
            !PyLong_CheckExact(PyTuple_GET_ITEM(v, 1)) ||
            !PyLong_CheckExact(PyTuple_GET_ITEM(v, 2)))
            return 0;
        Py_UCS4 kind = PyUnicode_READ_CHAR(PyTuple_GET_ITEM(v, 0), 0);
        long long a = PyLong_AsLongLongAndOverflow(PyTuple_GET_ITEM(v, 1),
                                                   &overflow);
        long long b = overflow ? 0 : PyLong_AsLongLongAndOverflow(
                                         PyTuple_GET_ITEM(v, 2), &overflow);
        if (overflow || (kind != 'n' && kind != 'f' && kind != 'c'))
            return 0;
        if (PyErr_Occurred() || xt_put(t, num, (char)kind, a, b, 1) < 0)
            return -1;
    }
    return 1;
}


/* bytes-pattern \s (ASCII-only: [ \t\n\r\f\v]) */
static int is_bws(unsigned char b)
{
    return b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0c ||
           b == 0x0b;
}

/* d[key] = (kind, a, b) with setdefault (first definition wins) or, when
 * replace, a plain store: 0 ok, -1 exception */
static int put_entry(PyObject *entries, long long key, PyObject *kind,
                     long long a, long long b, int replace)
{
    PyObject *k = PyLong_FromLongLong(key);
    PyObject *x = k ? PyLong_FromLongLong(a) : NULL;
    PyObject *y = x ? PyLong_FromLongLong(b) : NULL;
    PyObject *t = y ? PyTuple_Pack(3, kind, x, y) : NULL;
    int rc = -1;
    if (t)
        rc = replace ? PyDict_SetItem(entries, k, t)
                     : (PyDict_SetDefault(entries, k, t) ? 0 : -1);
    Py_XDECREF(k);
    Py_XDECREF(x);
    Py_XDECREF(y);
    Py_XDECREF(t);
    return rc;
}

/* the subsection entries of one section; p is just past the 'xref'
 * keyword.  Entries go into `entries` with setdefault (first definition
 * wins).  1 = parsed (*end = position after the last entry's EOL),
 * 0 = bail, -1 = exception. */
static int xref_entries(const unsigned char *d, Py_ssize_t n, Py_ssize_t p,
                        XTab *entries, Py_ssize_t *end)
{
    for (;;) {
        /* subsection header: \s*(\d+)\s+(\d+)\s* — commit p only on a
         * full match (regex semantics) */
        Py_ssize_t q = p;
        while (q < n && is_bws(d[q]))
            q++;
        if (q >= n || d[q] < '0' || d[q] > '9')
            break; /* no further subsection; p unchanged */
        Py_ssize_t s1 = q;
        while (q < n && d[q] >= '0' && d[q] <= '9')
            q++;
        if (q - s1 > 18)
            return 0;
        Py_ssize_t ws = q;
        while (q < n && is_bws(d[q]))
            q++;
        if (q == ws || q >= n || d[q] < '0' || d[q] > '9')
            break; /* header doesn't match; p unchanged */
        Py_ssize_t s2 = q;
        while (q < n && d[q] >= '0' && d[q] <= '9')
            q++;
        if (q - s2 > 18)
            return 0;
        while (q < n && is_bws(d[q]))
            q++;
        long long start_obj = 0, count = 0;
        for (Py_ssize_t i = s1; d[i] >= '0' && d[i] <= '9'; i++)
            start_obj = start_obj * 10 + (d[i] - '0');
        for (Py_ssize_t i = s2; d[i] >= '0' && d[i] <= '9'; i++)
            count = count * 10 + (d[i] - '0');
        Py_ssize_t hdr_end = q;
        /* strict stride validation */
        if (count > 0) {
            if (count > (n - hdr_end) / 20 + 1 ||
                hdr_end + 20 * (count - 1) + 18 > n)
                return 0; /* truncated: Python's flex path decides */
            for (long long i = 0; i < count; i++) {
                const unsigned char *e = d + hdr_end + 20 * i;
                for (int k2 = 0; k2 < 10; k2++)
                    if (e[k2] < '0' || e[k2] > '9')
                        return 0;
                if (!is_bws(e[10]))
                    return 0;
                for (int k2 = 11; k2 < 16; k2++)
                    if (e[k2] < '0' || e[k2] > '9')
                        return 0;
                if (!is_bws(e[16]))
                    return 0;
                if (e[17] != 'n' && e[17] != 'f')
                    return 0;
                if (i < count - 1) {
                    /* the two stride filler bytes must be whitespace or
                     * the bulk regex would see a different layout */
                    if (!is_bws(e[18]) || !is_bws(e[19]))
                        return 0;
                }
            }
            for (long long i = 0; i < count; i++) {
                const unsigned char *e = d + hdr_end + 20 * i;
                long long off = 0, gen = 0;
                for (int k2 = 0; k2 < 10; k2++)
                    off = off * 10 + (e[k2] - '0');
                for (int k2 = 11; k2 < 16; k2++)
                    gen = gen * 10 + (e[k2] - '0');
                /* first definition wins (entries.setdefault) */
                if (xt_put(entries, start_obj + i, (char)e[17], off, gen,
                           0) < 0)
                    return -1;
            }
            p = hdr_end + 20 * (count - 1) + 18;
        } else {
            p = hdr_end;
        }
        /* trailing-EOL skip after the final entry: [\r\n ] ONLY */
        while (p < n && (d[p] == '\r' || d[p] == '\n' || d[p] == ' '))
            p++;
    }
    *end = p;
    return 1;
}

/* `trailer <<…>>` at pos (_parse_trailer_after): 1 = *out is the dict (new
 * ref) and *end the position after it, 0 = bail, -1 = exception */
static int xref_trailer(const unsigned char *d, Py_ssize_t n, Py_ssize_t pos,
                        PyObject **out, Py_ssize_t *end)
{
    OLex o;
    o.d = d;
    o.n = n;
    o.pos = pos;
    o.bail = 0;
    o_skip(&o);
    if (!(o.pos + 7 <= n && memcmp(d + o.pos, "trailer", 7) == 0 &&
          (o.pos + 7 == n || is_obound(d[o.pos + 7]))))
        return 0;
    o.pos += 7;
    PyObject *t = o_value(&o, 0);
    if (!t)
        return (o.bail && !PyErr_Occurred()) ? 0 : -1;
    if (!PyDict_CheckExact(t)) {
        Py_DECREF(t);
        return 0;
    }
    *out = t;
    *end = o.pos;
    return 1;
}

/* one whole section at `offset` (after optional whitespace): the xref.py
 * _parse_traditional_section result (entries, trailer, pos_after) */
static int xref_section(const unsigned char *d, Py_ssize_t n,
                        Py_ssize_t offset, XTab *entries,
                        PyObject **trailer, Py_ssize_t *end)
{
    Py_ssize_t p = offset;
    /* the Lexer skips ws AND comments before 'xref'; handle pure-ws skip
     * natively, bail on anything else (incl. '%') */
    while (p < n && is_ws1(d[p]))
        p++;
    if (p + 4 > n || memcmp(d + p, "xref", 4) != 0)
        return 0; /* Python raises its exact XRefError */
    if (p + 4 < n && !is_obound(d[p + 4]))
        return 0; /* 'xrefx' — not the keyword token */
    int rc = xref_entries(d, n, p + 4, entries, &p);
    if (rc <= 0)
        return rc;
    return xref_trailer(d, n, p, trailer, end);
}

static PyObject *parse_xref_section(PyObject *self, PyObject *args)
{
    PyObject *data_obj;
    Py_ssize_t offset;
    if (!PyArg_ParseTuple(args, "On", &data_obj, &offset))
        return NULL;
    if (!PyBytes_Check(data_obj) || offset < 0)
        Py_RETURN_NONE;
    XTab t = {0};
    PyObject *trailer = NULL;
    Py_ssize_t end = 0;
    int rc = xref_section((const unsigned char *)PyBytes_AS_STRING(data_obj),
                          PyBytes_GET_SIZE(data_obj), offset, &t, &trailer,
                          &end);
    PyObject *entries = rc > 0 ? xt_dict(&t) : NULL;
    xt_free(&t);
    if (rc <= 0) {
        if (rc < 0)
            return NULL;
        Py_RETURN_NONE;
    }
    if (!entries) {
        Py_DECREF(trailer);
        return NULL;
    }
    return Py_BuildValue("(NNn)", entries, trailer, end);
}

/* ========================================================================
 * Document skeleton fast path: the xref chain with its xref streams,
 * hybrid /XRefStm and recovery scan (xref.py parse_xref_chain,
 * recover_xref), object fetch including object-stream members (reader.py
 * PdfReader.get_object / resolve), the page tree (pages.py
 * flatten_page_tree) and /Contents assembly (pages.py page_content).  Same
 * discipline as parse_indirect: each entry point returns a complete result
 * or None (get_object: the BAIL sentinel), and on a bail the caller re-runs
 * that whole step in Python, the authority.  The C steps bail on
 * encryption, a missing xref entry, a wrong-object entry, an indirect
 * /Length, an exception from a Python stream decode they did not expect,
 * and on every parse the object parser is not byte-certain about.  Stream
 * payloads (xref streams, object streams, page contents) decode through
 * native_decode, which calls the zlib module's decompressobj for Flate,
 * so the build links no zlib; any other stream goes to the Python
 * Stream.decode.
 *
 * Objects fetched here go into reader._cache (object-stream members also
 * into reader._objstm_cache) exactly as get_object would cache them (same
 * key, same value), or, in the batch loop before a reader exists, into
 * the xref table entry they come from; a bailed step's Python re-run
 * walks the same objects first, so a bail leaves nothing Python would not
 * have produced itself.
 * ======================================================================== */

static PyObject *g_stream_cls; /* objects.Stream */
static PyObject *g_bail;       /* module BAIL sentinel */
static PyObject *g_space_bytes;                  /* b" " */
static PyObject *s_data, *s_xref, *s_cache, *s_resolving, *s_lenient,
    *s_decryptor, *s_mode, *s_trailer, *s_strict, *s_join, *s_dict, *s_raw;
static PyObject *k_Length, *k_Root, *k_Pages, *k_Type, *k_Kids, *k_Contents,
    *k_Resources, *k_MediaBox, *k_Filter, *k_DecodeParms, *k_DP, *k_Prev,
    *k_XRefStm, *k_Page;
static PyObject *k_inheritable[4]; /* Resources MediaBox CropBox Rotate */

/* data.find(needle, start) for a NUL-free needle; -1 when absent */
static Py_ssize_t bfind(const unsigned char *d, Py_ssize_t n,
                        Py_ssize_t start, const char *needle, Py_ssize_t m)
{
    Py_ssize_t i = start;
    while (i + m <= n) {
        const unsigned char *hit = memchr(d + i, needle[0], (size_t)(n - m + 1 - i));
        if (!hit)
            return -1;
        i = hit - d;
        if (memcmp(d + i, needle, (size_t)m) == 0)
            return i;
        i++;
    }
    return -1;
}

/* an exact int (bool excluded) that fits a Py_ssize_t: 1 + *out, else 0 */
static int small_int(PyObject *v, Py_ssize_t *out)
{
    if (!v || !PyLong_CheckExact(v))
        return 0;
    Py_ssize_t x = PyLong_AsSsize_t(v);
    if (x == -1 && PyErr_Occurred()) {
        PyErr_Clear();
        return 0;
    }
    *out = x;
    return 1;
}

/* find_xref_offset: `startxref` in the last 1KB, else anywhere; then
 * re.match(rb"startxref\s+(\d+)") over a 64-byte window.  1 = *out,
 * 0 = no offset (Python recovers), -1 = bail (digits past 18). */
static int c_startxref(const unsigned char *d, Py_ssize_t n, Py_ssize_t *out)
{
    Py_ssize_t tail = n > 1024 ? n - 1024 : 0, idx = -1;
    for (Py_ssize_t i = n - 9; i >= tail; i--)
        if (d[i] == 's' && memcmp(d + i, "startxref", 9) == 0) {
            idx = i;
            break;
        }
    if (idx < 0)
        for (Py_ssize_t i = tail - 1; i >= 0; i--)
            if (i + 9 <= n && d[i] == 's' && memcmp(d + i, "startxref", 9) == 0) {
                idx = i;
                break;
            }
    if (idx < 0)
        return 0;
    Py_ssize_t w = idx + 64 < n ? idx + 64 : n, q = idx + 9, s = q;
    while (q < w && is_bws(d[q]))
        q++;
    if (q == s || q >= w || d[q] < '0' || d[q] > '9')
        return 0;
    s = q;
    long long v = 0;
    while (q < w && d[q] >= '0' && d[q] <= '9') {
        if (q - s >= 18)
            return -1;
        v = v * 10 + (d[q] - '0');
        q++;
    }
    *out = (Py_ssize_t)v;
    return 1;
}

/* ---- stream payloads, xref streams, the recovery scan ------------------ */

static PyObject *s_objstm_cache, *s_recovered, *s_resolve, *s_decode;
static PyObject *k_W, *k_Size, *k_Index, *k_N, *k_First, *k_Info, *k_ID;

/* The payload after the `stream` keyword at pos: reader._capture_stream
 * without a decryptor (standalone 0), the same while the xref is being
 * built, where an indirect /Length cannot resolve and counts as absent
 * (standalone 2: an xref stream), or xref._parse_object_at_standalone,
 * which never resolves a /Length and is always lenient (standalone 1).
 * 1 = the payload is d[*start:*stop], 2 = Python raises PdfParseError (a
 * strict /Length mismatch, an unterminated stream), 0 = bail (an indirect
 * /Length the reader resolves, a bool /Length), -1 = exception.  A
 * non-NULL resolved stands for the /Length the reader resolved. */
static int stream_span(const unsigned char *d, Py_ssize_t n, PyObject *value,
                       PyObject *resolved, Py_ssize_t pos, int lenient,
                       int standalone, Py_ssize_t *start, Py_ssize_t *stop)
{
    /* exactly one EOL after 'stream' (spec): \r\n or \n (tolerate \r) */
    if (pos + 1 < n && d[pos] == '\r' && d[pos + 1] == '\n')
        pos += 2;
    else if (pos < n && (d[pos] == '\r' || d[pos] == '\n'))
        pos += 1;
    PyObject *length =
        resolved ? resolved : PyDict_GetItemWithError(value, k_Length);
    if (!length && PyErr_Occurred())
        return -1;
    if (length && PyBool_Check(length))
        return 0;
    if (length && PyObject_TypeCheck(length, (PyTypeObject *)g_ref_cls) &&
        !standalone)
        return 0; /* an indirect /Length left unresolved: Python's */
    Py_ssize_t len;
    *start = pos;
    *stop = -1;
    /* an int too large for Py_ssize_t never fits the buffer */
    if (length && PyLong_CheckExact(length) && small_int(length, &len) &&
        len >= 0 && len <= n - pos) {
        /* data[end:end+32].lstrip(b"\r\n \t").startswith(b"endstream") */
        Py_ssize_t q = pos + len, w = q + 32 < n ? q + 32 : n;
        while (q < w && (d[q] == '\r' || d[q] == '\n' || d[q] == ' ' ||
                         d[q] == '\t'))
            q++;
        if (w - q >= 9 && memcmp(d + q, "endstream", 9) == 0)
            *stop = pos + len;
    }
    if (*stop < 0) {
        /* declared length wrong/absent: the lenient endstream search */
        if (!lenient && standalone != 1)
            return 2;
        Py_ssize_t es = bfind(d, n, pos, "endstream", 9);
        if (es < 0)
            return 2;
        if (es > pos && d[es - 1] == '\n')
            es--;
        if (es > pos && d[es - 1] == '\r')
            es--;
        *stop = es;
    }
    return 1;
}

/* Stream(value, d[start:stop]) */
static PyObject *new_stream(const unsigned char *d, Py_ssize_t start,
                            Py_ssize_t stop, PyObject *value)
{
    PyObject *raw =
        PyBytes_FromStringAndSize((const char *)(d + start), stop - start);
    if (!raw)
        return NULL;
    PyObject *stm = PyObject_CallFunctionObjArgs(g_stream_cls, value, raw, NULL);
    Py_DECREF(raw);
    return stm;
}

/* stm.decode(resolve) through the Python filters (zlib, predictors, LZW):
 * the decoded bytes (new ref); or NULL with no exception set, *raised = 1
 * when decode raised an Exception (cleared: the caller bails, or skips
 * where Python catches every Exception) and 0 when it returned something
 * other than bytes (bail); or NULL with an exception that is not an
 * Exception. */
static PyObject *stream_decode(PyObject *stm, PyObject *resolve, int *raised)
{
    PyObject *dec = PyObject_CallMethodOneArg(stm, s_decode, resolve);
    *raised = 0;
    if (dec && PyBytes_CheckExact(dec))
        return dec;
    Py_XDECREF(dec);
    if (PyErr_Occurred() && PyErr_ExceptionMatches(PyExc_Exception)) {
        PyErr_Clear();
        *raised = 1;
    }
    return NULL;
}

/* ---- native stream filters (filters.decode_stream_data) ---------------- *
 * The common chain decodes here: FlateDecode (strategy 1 of decode_flate,
 * the same zlib.decompressobj / decompress / flush calls _zlib_try makes,
 * with its size and ratio guards), LZWDecode (lzw_run), ASCIIHexDecode,
 * chains of these, and the PNG (10-15) and TIFF (2) predictors.  Anything
 * else is handed to the Python Stream.decode, which owns decode_flate's
 * fallback ladder: a first-try zlib error or guard, an indirect /Filter or
 * /DecodeParms, an unknown filter, predictor parameters that are not
 * plain ints or an odd predictor shape.  g_fnat counts the filters
 * decoded natively and g_fpy the streams handed back, by call site and
 * reason (filter_counts reads them). */

enum { FS_XREF, FS_OBJSTM, FS_CONTENT, FS_N };
static const char *const fs_names[FS_N] = {"xref", "objstm", "content"};
enum { FN_FLATE, FN_LZW, FN_AHX, FN_PNG, FN_TIFF, FN_N };
static const char *const fn_names[FN_N] = {
    "FlateDecode", "LZWDecode", "ASCIIHexDecode", "png_predictor",
    "tiff_predictor"};
enum { FB_ZLIB, FB_INDIRECT, FB_FILTER, FB_PARAMS, FB_LZW, FB_N };
static const char *const fb_names[FB_N] = {"zlib", "indirect", "filter",
                                           "params", "lzw"};
static long long g_fnat[FS_N][FN_N], g_fpy[FS_N][FB_N];
static PyObject *g_decompressobj; /* zlib.decompressobj */
static PyObject *s_decompress, *s_flush, *k_Predictor, *k_Columns,
    *k_Colors, *k_Bpc, *k_EarlyChange;
static long long g_max_size, g_max_ratio; /* filters.MAX_DECOMPRESSED_SIZE,
                                             MAX_COMPRESSION_RATIO */

static PyObject *lzw_run(const unsigned char *p, Py_ssize_t n,
                         long long early, long long cap); /* below */
static int str_is(PyObject *s, const char *lit);              /* below */
static void install_global(PyObject **slot, PyObject *value); /* below */

/* _zlib_try(data, MAX_WBITS): new bytes, or NULL (bail: a zlib error,
 * the size or ratio guard; or an exception that is not an Exception) */
static PyObject *flate_once(PyObject *data)
{
    PyObject *d = PyObject_CallNoArgs(g_decompressobj);
    PyObject *cap = d ? PyLong_FromLongLong(g_max_size + 1) : NULL;
    PyObject *out = cap ? PyObject_CallMethodObjArgs(d, s_decompress, data,
                                                     cap, NULL)
                        : NULL;
    PyObject *tail = out ? PyObject_CallMethodNoArgs(d, s_flush) : NULL;
    Py_XDECREF(d);
    Py_XDECREF(cap);
    if (tail && PyBytes_CheckExact(out) && PyBytes_CheckExact(tail)) {
        if (PyBytes_GET_SIZE(tail))
            PyBytes_Concat(&out, tail);
    } else
        Py_CLEAR(out);
    Py_XDECREF(tail);
    if (out) {
        long long in = PyBytes_GET_SIZE(data), got = PyBytes_GET_SIZE(out);
        if (got > g_max_size || (in > 0 && got > in * g_max_ratio))
            Py_CLEAR(out);
    }
    if (!out && PyErr_Occurred() && PyErr_ExceptionMatches(PyExc_Exception))
        PyErr_Clear();
    return out;
}

/* decode_ascii_hex: digits up to the first '>', others skipped, an odd
 * last digit padded with 0 */
static PyObject *ahx_decode(PyObject *data)
{
    const unsigned char *p = (const unsigned char *)PyBytes_AS_STRING(data);
    Py_ssize_t n = PyBytes_GET_SIZE(data), k = 0;
    const unsigned char *gt = memchr(p, '>', (size_t)n);
    if (gt)
        n = gt - p;
    PyObject *out = PyBytes_FromStringAndSize(NULL, n / 2 + 1);
    if (!out)
        return NULL;
    unsigned char *o = (unsigned char *)PyBytes_AS_STRING(out);
    int hi = -1;
    for (Py_ssize_t i = 0; i < n; i++) {
        int v = hex_digit(p[i]);
        if (v < 0)
            continue;
        if (hi < 0)
            hi = v;
        else {
            o[k++] = (unsigned char)(hi << 4 | v);
            hi = -1;
        }
    }
    if (hi >= 0)
        o[k++] = (unsigned char)(hi << 4);
    _PyBytes_Resize(&out, k);
    return out;
}

/* int(params.get(key, def) or def) for a plain int: 1, else 0 */
static int parm_int(PyObject *params, PyObject *key, long long def,
                    long long *out)
{
    PyObject *v = params ? PyDict_GetItemWithError(params, key) : NULL;
    if (PyErr_Occurred()) {
        PyErr_Clear();
        return 0;
    }
    if (!v || v == Py_None || v == Py_False) {
        *out = def;
        return 1;
    }
    if (!PyLong_Check(v))
        return 0;
    int overflow;
    long long x = PyLong_AsLongLongAndOverflow(v, &overflow);
    if (overflow || (x == -1 && PyErr_Occurred())) {
        PyErr_Clear();
        return 0;
    }
    *out = x ? x : def;
    return 1;
}

#define PRED_DIM_MAX (1LL << 20)

/* apply_predictor(data, params): new bytes (data itself when no predictor
 * applies), or NULL with *bail set (no exception) / an exception */
static PyObject *predict(PyObject *data, PyObject *params, int *used,
                         int *bail)
{
    long long pred, cols, colors, bpc;
    if (!parm_int(params, k_Predictor, 1, &pred) ||
        !parm_int(params, k_Columns, 1, &cols) ||
        !parm_int(params, k_Colors, 1, &colors) ||
        !parm_int(params, k_Bpc, 8, &bpc)) {
        *bail = FB_PARAMS + 1;
        return NULL;
    }
    if (pred <= 1)
        return Py_NewRef(data);
    if (!(pred == 2 || (pred >= 10 && pred <= 15)) || cols < 1 ||
        colors < 1 || bpc < 1 || cols > PRED_DIM_MAX ||
        colors > PRED_DIM_MAX || bpc > PRED_DIM_MAX) {
        *bail = FB_PARAMS + 1;
        return NULL;
    }
    const unsigned char *in = (const unsigned char *)PyBytes_AS_STRING(data);
    Py_ssize_t n = PyBytes_GET_SIZE(data);
    if (pred == 2) { /* _tiff_unpredict: 8-bit samples only */
        Py_ssize_t row = (Py_ssize_t)(cols * colors);
        if (bpc != 8 || n % row != 0)
            return Py_NewRef(data);
        PyObject *out = PyBytes_FromStringAndSize(NULL, n);
        if (!out)
            return NULL;
        unsigned char *o = (unsigned char *)PyBytes_AS_STRING(out);
        for (Py_ssize_t r = 0; r < n; r += row)
            for (Py_ssize_t i = 0; i < row; i++)
                o[r + i] = i < colors ? in[r + i]
                                      : (unsigned char)(in[r + i] +
                                                        o[r + i - colors]);
        used[FN_TIFF] = 1;
        return out;
    }
    /* _png_unpredict: whole rows only, each led by its filter tag */
    Py_ssize_t bpp = (Py_ssize_t)((colors * bpc + 7) / 8);
    Py_ssize_t rb = (Py_ssize_t)((cols * colors * bpc + 7) / 8);
    if (bpp < 1)
        bpp = 1;
    Py_ssize_t stride = rb + 1, rows = n / stride;
    if (n % stride && rows == 0) {
        *bail = FB_PARAMS + 1; /* "predictor data shorter than one row" */
        return NULL;
    }
    PyObject *out = PyBytes_FromStringAndSize(NULL, rows * rb);
    if (!out)
        return NULL;
    unsigned char *o = (unsigned char *)PyBytes_AS_STRING(out);
    for (Py_ssize_t r = 0; r < rows; r++) {
        const unsigned char *cur = in + r * stride + 1;
        unsigned char *res = o + r * rb;
        const unsigned char *prev = r ? res - rb : NULL;
        unsigned char tag = cur[-1];
        for (Py_ssize_t i = 0; i < rb; i++) {
            int a = i >= bpp ? res[i - bpp] : 0, b = prev ? prev[i] : 0,
                c = prev && i >= bpp ? prev[i - bpp] : 0, pr;
            switch (tag) {
            case 0: pr = 0; break;
            case 1: pr = a; break;
            case 2: pr = b; break;
            case 3: pr = (a + b) >> 1; break;
            case 4: {
                int p = a + b - c, pa = abs(p - a), pb = abs(p - b),
                    pc = abs(p - c);
                pr = pa <= pb && pa <= pc ? a : pb <= pc ? b : c;
                break;
            }
            default: /* "unknown PNG filter tag" */
                Py_DECREF(out);
                *bail = FB_PARAMS + 1;
                return NULL;
            }
            res[i] = (unsigned char)(cur[i] + pr);
        }
    }
    used[FN_PNG] = 1;
    return out;
}

/* _filter_params(parms, i) (borrowed; NULL for {}) */
static PyObject *filter_params(PyObject *parms, Py_ssize_t i)
{
    if (parms && PyList_Check(parms)) {
        PyObject *p = i < PyList_GET_SIZE(parms) ? PyList_GET_ITEM(parms, i)
                                                 : NULL;
        return p && PyDict_Check(p) ? p : NULL;
    }
    return parms && PyDict_Check(parms) && i == 0 ? parms : NULL;
}

/* a Ref, or a list holding one */
static int holds_ref(PyObject *v)
{
    PyTypeObject *ref = (PyTypeObject *)g_ref_cls;
    if (PyObject_TypeCheck(v, ref))
        return 1;
    if (PyList_Check(v))
        for (Py_ssize_t i = 0; i < PyList_GET_SIZE(v); i++)
            if (PyObject_TypeCheck(PyList_GET_ITEM(v, i), ref))
                return 1;
    return 0;
}

/* one filter name (an alias resolved): its FN_ index, or -1 */
static int filter_kind(PyObject *name)
{
    if (str_is(name, "FlateDecode") || str_is(name, "Fl"))
        return FN_FLATE;
    if (str_is(name, "LZWDecode") || str_is(name, "LZW"))
        return FN_LZW;
    if (str_is(name, "ASCIIHexDecode") || str_is(name, "AHx"))
        return FN_AHX;
    return -1;
}

/* Stream(sd, raw).decode() for the chains decoded natively: new bytes, or
 * NULL with no exception (hand the stream to Stream.decode; counted for
 * `site`, a FS_ index or -1 for none) or with one that is not an
 * Exception */
static PyObject *native_decode(PyObject *sd, PyObject *raw, int site)
{
    int why = 0, used[FN_N] = {0};
    PyObject *filt = NULL, *parms = NULL, *cur = NULL;
    if (!g_decompressobj || !PyDict_Check(sd) || !PyBytes_CheckExact(raw)) {
        why = FB_FILTER + 1;
        goto bail;
    }
    /* dict.get("DecodeParms", dict.get("DP")) */
    filt = PyDict_GetItemWithError(sd, k_Filter);
    if (!PyErr_Occurred())
        parms = PyDict_GetItemWithError(sd, k_DecodeParms);
    if (!parms && !PyErr_Occurred())
        parms = PyDict_GetItemWithError(sd, k_DP);
    if (PyErr_Occurred())
        goto err;
    if ((filt && holds_ref(filt)) || (parms && holds_ref(parms))) {
        why = FB_INDIRECT + 1;
        goto bail;
    }
    cur = Py_NewRef(raw);
    if (!filt || filt == Py_None)
        return cur;
    int is_list = PyList_Check(filt);
    if (!is_list && !PyUnicode_Check(filt)) {
        why = FB_FILTER + 1; /* "invalid Filter type" */
        goto bail;
    }
    Py_ssize_t nf = is_list ? PyList_GET_SIZE(filt) : 1, fi = 0;
    for (Py_ssize_t j = 0; j < nf; j++) {
        PyObject *name = is_list ? PyList_GET_ITEM(filt, j) : filt;
        if (!PyUnicode_Check(name))
            continue; /* non-name entries are dropped */
        PyObject *params = filter_params(parms, fi++), *next = NULL;
        int kind = filter_kind(name);
        if (kind < 0) {
            why = FB_FILTER + 1;
            goto bail;
        }
        used[kind] = 1;
        if (kind == FN_AHX) {
            next = ahx_decode(cur);
            if (!next)
                goto err;
        } else {
            PyObject *dec;
            if (kind == FN_FLATE) {
                dec = flate_once(cur);
                if (!dec) {
                    why = FB_ZLIB + 1;
                    goto bail_or_err;
                }
            } else {
                /* int(early) if early is not None else 1, in the range
                 * decode_lzw hands to lzw_decode */
                PyObject *ev = params ? PyDict_GetItemWithError(params,
                                                                k_EarlyChange)
                                      : NULL;
                long long early = 1;
                int overflow = 0;
                if (PyErr_Occurred())
                    goto err;
                if (ev && ev != Py_None) {
                    early = PyLong_Check(ev)
                                ? PyLong_AsLongLongAndOverflow(ev, &overflow)
                                : 1LL << 30;
                    if (overflow || early <= -(1LL << 30) ||
                        early >= (1LL << 30)) {
                        PyErr_Clear();
                        why = FB_PARAMS + 1;
                        goto bail;
                    }
                }
                dec = lzw_run((const unsigned char *)PyBytes_AS_STRING(cur),
                              PyBytes_GET_SIZE(cur), early, g_max_size);
                if (!dec)
                    goto err;
                if (!PyBytes_Check(dec)) { /* the FilterError message */
                    Py_DECREF(dec);
                    why = FB_LZW + 1;
                    goto bail;
                }
            }
            next = predict(dec, params, used, &why);
            Py_DECREF(dec);
            if (!next)
                goto bail_or_err;
        }
        Py_SETREF(cur, next);
    }
    for (int k = 0; site >= 0 && k < FN_N; k++)
        g_fnat[site][k] += used[k];
    return cur;
bail_or_err:
    if (PyErr_Occurred())
        goto err;
bail:
    Py_XDECREF(cur);
    if (site >= 0)
        g_fpy[site][why - 1]++;
    return NULL;
err:
    Py_XDECREF(cur);
    if (PyErr_ExceptionMatches(PyExc_Exception)) {
        PyErr_Clear();
        if (site >= 0)
            g_fpy[site][FB_FILTER]++;
    }
    return NULL;
}

/* decode_stream(dict, raw): native_decode's bytes, or None where it
 * hands the stream to Stream.decode (uncounted) */
static PyObject *decode_stream(PyObject *self, PyObject *args)
{
    PyObject *sd, *raw;
    if (!PyArg_ParseTuple(args, "OO", &sd, &raw))
        return NULL;
    PyObject *dec = native_decode(sd, raw, -1);
    return dec || PyErr_Occurred() ? dec : Py_NewRef(Py_None);
}

/* native_decode over a Stream object: new bytes, or NULL with no
 * exception (Stream.decode's) or with one that is not an Exception */
static PyObject *stream_native(PyObject *stm, int site)
{
    PyObject *sd = PyObject_GetAttr(stm, s_dict);
    PyObject *raw = sd ? PyObject_GetAttr(stm, s_raw) : NULL;
    PyObject *dec = raw ? native_decode(sd, raw, site) : NULL;
    Py_XDECREF(sd);
    Py_XDECREF(raw);
    if (!dec && PyErr_Occurred() && PyErr_ExceptionMatches(PyExc_Exception))
        PyErr_Clear();
    return dec;
}

/* setup_filters(zlib.decompressobj, MAX_DECOMPRESSED_SIZE,
 * MAX_COMPRESSION_RATIO) */
static PyObject *setup_filters(PyObject *self, PyObject *args)
{
    PyObject *dobj;
    long long size, ratio;
    if (!PyArg_ParseTuple(args, "OLL", &dobj, &size, &ratio))
        return NULL;
    if (!PyCallable_Check(dobj) || size < 0 || ratio < 1) {
        PyErr_SetString(PyExc_ValueError, "setup_filters: bad arguments");
        return NULL;
    }
    install_global(&g_decompressobj, dobj);
    g_max_size = size;
    g_max_ratio = ratio;
    Py_RETURN_NONE;
}

/* filter_counts(reset=False): {"native": {site: {filter: streams}},
 * "python": {site: {reason: streams}}} since the module loaded or the
 * last reset */
static PyObject *filter_counts(PyObject *self, PyObject *args)
{
    int reset = 0;
    if (!PyArg_ParseTuple(args, "|p", &reset))
        return NULL;
    PyObject *res = PyDict_New(), *nat = PyDict_New(), *py = PyDict_New();
    int ok = res && nat && py && PyDict_SetItemString(res, "native", nat) == 0 &&
             PyDict_SetItemString(res, "python", py) == 0;
    for (int s = 0; ok && s < FS_N; s++) {
        PyObject *a = PyDict_New(), *b = PyDict_New();
        ok = a && b && PyDict_SetItemString(nat, fs_names[s], a) == 0 &&
             PyDict_SetItemString(py, fs_names[s], b) == 0;
        for (int k = 0; ok && k < FN_N; k++) {
            PyObject *v = PyLong_FromLongLong(g_fnat[s][k]);
            ok = v && PyDict_SetItemString(a, fn_names[k], v) == 0;
            Py_XDECREF(v);
        }
        for (int k = 0; ok && k < FB_N; k++) {
            PyObject *v = PyLong_FromLongLong(g_fpy[s][k]);
            ok = v && PyDict_SetItemString(b, fb_names[k], v) == 0;
            Py_XDECREF(v);
        }
        Py_XDECREF(a);
        Py_XDECREF(b);
    }
    Py_XDECREF(nat);
    Py_XDECREF(py);
    if (!ok) {
        Py_XDECREF(res);
        return NULL;
    }
    if (reset) {
        memset(g_fnat, 0, sizeof(g_fnat));
        memset(g_fpy, 0, sizeof(g_fpy));
    }
    return res;
}

/* a list of exact ints (bool excluded) that fit a Py_ssize_t: 1 with a
 * malloc'd *out of *cnt values, 0 for any other value, -1 on memory */
static int int_list(PyObject *lst, Py_ssize_t **out, Py_ssize_t *cnt)
{
    if (!PyList_CheckExact(lst))
        return 0;
    Py_ssize_t k = PyList_GET_SIZE(lst);
    Py_ssize_t *v = (Py_ssize_t *)malloc(sizeof(Py_ssize_t) * (size_t)(k + 1));
    if (!v) {
        PyErr_NoMemory();
        return -1;
    }
    for (Py_ssize_t i = 0; i < k; i++)
        if (!small_int(PyList_GET_ITEM(lst, i), &v[i])) {
            free(v);
            return 0;
        }
    *out = v;
    *cnt = k;
    return 1;
}

/* a decimal digit run of at most 18 digits as a long long: 1, else 0 */
static int digits_ll(const unsigned char *p, Py_ssize_t len, long long *out)
{
    if (len > 18)
        return 0;
    long long v = 0;
    for (Py_ssize_t i = 0; i < len; i++)
        v = v * 10 + (p[i] - '0');
    *out = v;
    return 1;
}

/* one field of an xref-stream row: the big-endian value of its w bytes,
 * wrapped to int64 the way the numpy column sum wraps; def when w is 0 */
static long long xs_field(const unsigned char *p, Py_ssize_t w, long long def)
{
    if (w == 0)
        return def;
    unsigned long long v = 0;
    for (Py_ssize_t i = 0; i < w; i++)
        v = (v << 8) | p[i];
    return (long long)v;
}

/* The class of the object-lexer token at p (after whitespace and
 * comments): 'i' an int, 'k' the keyword `obj`, 'x' a token that is
 * plainly neither (eof, a real, a name, an array or dict marker, another
 * keyword), 0 a token whose read may skip bytes, recurse or raise (lone
 * sign or dot, a string, hex, '>', a stray delimiter).  *end is the
 * position after an 'i' token. */
static int header_token(const unsigned char *d, Py_ssize_t n, Py_ssize_t p,
                        Py_ssize_t *end)
{
    OLex o = {d, n, p, 0};
    o_skip(&o);
    p = o.pos;
    if (p >= n)
        return 'x';
    unsigned char ch = d[p];
    if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.') {
        int is_int = 0;
        Py_ssize_t tl = scan_number(d + p, n - p, &is_int);
        if (tl <= 0)
            return 0;
        *end = p + tl;
        return is_int ? 'i' : 'x';
    }
    if (ch == '/' || ch == '[' || ch == ']' || ch == '{' || ch == '}')
        return 'x';
    if ((ch == '<' || ch == '>') && p + 1 < n && d[p + 1] == ch)
        return 'x';
    if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z') || ch == '\'' ||
        ch == '"' || ch == '*') {
        Py_ssize_t q = p;
        while (q < n && !is_obound(d[q]))
            q++;
        return (q - p == 3 && memcmp(d + p, "obj", 3) == 0) ? 'k' : 'x';
    }
    return 0;
}

/* 1 when reader._parse_indirect_object_at_py(offset) certainly raises
 * "no object header": one of its first three tokens is plainly not the
 * int, int, `obj` it reads */
static int header_absent(const unsigned char *d, Py_ssize_t n,
                         Py_ssize_t offset)
{
    Py_ssize_t p = offset;
    for (int k = 0; k < 3; k++) {
        int t = header_token(d, n, p, &p);
        if (t == 0)
            return 0;
        if (t != (k < 2 ? 'i' : 'k'))
            return 1;
    }
    return 0;
}

/* xref._parse_xref_stream_at(data, offset, reader) while the reader is
 * being built: 1 = the section's entries went into `entries` with
 * setdefault and *trailer is dict(d) (new ref), 2 = Python raises an error
 * parse_xref_chain catches (the chain stops, a /XRefStm is skipped),
 * 0 = bail, -1 = exception.  Nothing is written to `entries` before every
 * check has passed. */
static int xref_stream_at(const unsigned char *d, Py_ssize_t n,
                          Py_ssize_t offset, int lenient, XTab *entries,
                          PyObject **trailer)
{
    OLex o = {d, n, offset, 0};
    long long onum, ogen;
    PyObject *value = NULL, *stm = NULL, *dec = NULL;
    Py_ssize_t *w = NULL, *idx = NULL, nw = 0, nidx = 0, start, stop;
    int has_stream;
    int rc = o_indirect(&o, &onum, &ogen, &value, &has_stream);
    if (rc == 0 && header_absent(d, n, offset))
        return 2; /* "no object header at …" */
    if (rc <= 0)
        return rc;
    if (!has_stream) { /* "object at … is not an xref stream" */
        rc = 2;
        goto out;
    }
    rc = stream_span(d, n, value, NULL, o.pos, lenient, 2, &start, &stop);
    if (rc != 1)
        goto out;
    rc = -1;
    PyObject *typ = PyDict_GetItemWithError(value, k_Type);
    if (!typ && PyErr_Occurred())
        goto out;
    /* str(d.get("Type", "")) != "XRef": only a str can print as XRef */
    if (!(typ && PyUnicode_Check(typ) &&
          PyUnicode_CompareWithASCIIString(typ, "XRef") == 0)) {
        int has_w = PyDict_Contains(value, k_W);
        if (has_w < 0)
            goto out;
        if (!has_w) { /* "xref stream missing /Type and /W" */
            rc = 2;
            goto out;
        }
    }
    PyObject *raw =
        PyBytes_FromStringAndSize((const char *)(d + start), stop - start);
    if (!raw)
        goto out;
    dec = native_decode(value, raw, FS_XREF);
    if (!dec && !PyErr_Occurred()) {
        int raised;
        stm = PyObject_CallFunctionObjArgs(g_stream_cls, value, raw, NULL);
        dec = stm ? stream_decode(stm, Py_None, &raised) : NULL;
    }
    Py_DECREF(raw);
    if (!dec) {
        rc = PyErr_Occurred() ? -1 : 0;
        goto out;
    }
    PyObject *wl = PyDict_GetItemWithError(value, k_W);
    if (!wl) {
        rc = PyErr_Occurred() ? -1 : 2; /* [] → "bad /W array" */
        goto out;
    }
    if ((rc = int_list(wl, &w, &nw)) != 1)
        goto out;
    if (nw < 3) {
        rc = 2;
        goto out;
    }
    Py_ssize_t row = 0;
    for (Py_ssize_t i = 0; i < nw; i++) {
        if (w[i] < 0 || w[i] > (i < 3 ? 8 : 1 << 20)) {
            rc = 0;
            goto out;
        }
        row += w[i];
    }
    Py_ssize_t size = 0;
    PyObject *sz = PyDict_GetItemWithError(value, k_Size);
    if (!sz && PyErr_Occurred()) {
        rc = -1;
        goto out;
    }
    if (sz && !small_int(sz, &size)) {
        rc = 0;
        goto out;
    }
    PyObject *il = PyDict_GetItemWithError(value, k_Index);
    if (!il && PyErr_Occurred()) {
        rc = -1;
        goto out;
    }
    if (il) {
        if ((rc = int_list(il, &idx, &nidx)) != 1)
            goto out;
    } else {
        idx = (Py_ssize_t *)malloc(2 * sizeof(Py_ssize_t));
        if (!idx) {
            PyErr_NoMemory();
            rc = -1;
            goto out;
        }
        idx[0] = 0;
        idx[1] = size;
        nidx = 2;
    }
    if (row == 0) { /* "zero-width xref stream rows" */
        rc = 2;
        goto out;
    }
    const unsigned char *m = (const unsigned char *)PyBytes_AS_STRING(dec);
    Py_ssize_t n_rows = PyBytes_GET_SIZE(dec) / row, r = 0;
    for (Py_ssize_t i = 0; i + 1 < nidx; i += 2)
        if (idx[i] > PY_SSIZE_T_MAX - n_rows) {
            rc = 0; /* object numbers past 64 bits: Python's own ints */
            goto out;
        }
    rc = -1;
    for (Py_ssize_t i = 0; i + 1 < nidx; i += 2) {
        Py_ssize_t first = idx[i], count = idx[i + 1];
        for (Py_ssize_t j = 0; j < count && r < n_rows; j++, r++) {
            const unsigned char *e = m + r * row;
            long long t = xs_field(e, w[0], 1);
            char kind = t == 0 ? 'f' : t == 1 ? 'n' : t == 2 ? 'c' : 0;
            if (kind && xt_put(entries, first + j, kind,
                                  xs_field(e + w[0], w[1], 0),
                                  xs_field(e + w[0] + w[1], w[2], 0), 0) < 0)
                goto out;
        }
    }
    *trailer = PyDict_Copy(value);
    rc = *trailer ? 1 : -1;
out:
    free(w);
    free(idx);
    Py_XDECREF(value);
    Py_XDECREF(stm);
    Py_XDECREF(dec);
    return rc;
}

/* bytes-pattern \w (ASCII) for the \b after `obj` */
static int is_wordb(unsigned char b)
{
    return (b >= '0' && b <= '9') || (b >= 'a' && b <= 'z') ||
           (b >= 'A' && b <= 'Z') || b == '_';
}

/* xref.scan_object_headers: every rb"(\d+)\s+(\d+)\s+obj\b" match, left
 * to right and non-overlapping, as found[num] = ("n", start, gen) (a later
 * header replaces the value; the key keeps its place).  A match can only
 * start at the first digit of a run: the rest of the run meets the same
 * bytes after it.  1 = done, 0 = bail (a number past 18 digits),
 * -1 = exception. */
static int scan_headers(const unsigned char *d, Py_ssize_t n, PyObject *found)
{
    Py_ssize_t i = 0;
    while (i < n) {
        const unsigned char *hit = d + i;
        while (hit < d + n && (*hit < '0' || *hit > '9'))
            hit++;
        if (hit >= d + n)
            break;
        Py_ssize_t s = hit - d, q = s;
        while (q < n && d[q] >= '0' && d[q] <= '9')
            q++;
        Py_ssize_t e1 = q;
        i = e1; /* no match from this run: resume after it */
        while (q < n && is_bws(d[q]))
            q++;
        if (q == e1 || q >= n || d[q] < '0' || d[q] > '9')
            continue;
        Py_ssize_t s2 = q;
        while (q < n && d[q] >= '0' && d[q] <= '9')
            q++;
        Py_ssize_t e2 = q;
        while (q < n && is_bws(d[q]))
            q++;
        if (q == e2 || q + 3 > n || memcmp(d + q, "obj", 3) != 0 ||
            (q + 3 < n && is_wordb(d[q + 3])))
            continue;
        long long num, gen;
        if (!digits_ll(d + s, e1 - s, &num) || !digits_ll(d + s2, e2 - s2, &gen))
            return 0;
        if (put_entry(found, num, g_n_str, s, gen, 1) < 0)
            return -1;
        i = q + 3;
    }
    return 1;
}

/* data.rfind(needle, 0, end) for a NUL-free needle; -1 when absent */
static Py_ssize_t brfind(const unsigned char *d, Py_ssize_t end,
                         const char *needle, Py_ssize_t m)
{
    for (Py_ssize_t i = end - m; i >= 0; i--)
        if (d[i] == (unsigned char)needle[0] && memcmp(d + i, needle, (size_t)m) == 0)
            return i;
    return -1;
}

/* parse_object over a fresh Lexer at o->pos: 1 = *out (new ref), 2 = it
 * raises PdfParseError (EOF, or a keyword other than true/false/null),
 * 0 = bail, -1 = exception */
static int o_value_top(OLex *o, PyObject **out)
{
    o_skip(o);
    if (o->pos >= o->n)
        return 2; /* "unexpected EOF" */
    unsigned char ch = o->d[o->pos];
    if (ch == '{' || ch == '}')
        return 2; /* the brace keywords */
    if (!is_obound(ch) && !((ch >= '0' && ch <= '9') || ch == '+' ||
                            ch == '-' || ch == '.')) {
        Py_ssize_t p = o->pos;
        while (p < o->n && !is_obound(o->d[p]))
            p++;
        Py_ssize_t kl = p - o->pos;
        const unsigned char *kp = o->d + o->pos;
        if (!((kl == 4 && memcmp(kp, "true", 4) == 0) ||
              (kl == 5 && memcmp(kp, "false", 5) == 0) ||
              (kl == 4 && memcmp(kp, "null", 4) == 0)))
            return 2; /* "unexpected keyword" */
    }
    PyObject *v = o_value(o, 0);
    if (!v)
        return (o->bail && !PyErr_Occurred()) ? 0 : -1;
    *out = v;
    return 1;
}

/* int(v or 0) for an ObjStm's /N or /First: 1 = *out, 2 = int() raises
 * (a Ref), 0 = bail (bool, float, str: Python's conversions decide) */
static int objstm_int(PyObject *dict, PyObject *key, Py_ssize_t *out)
{
    PyObject *v = PyDict_GetItemWithError(dict, key);
    if (!v) {
        if (PyErr_Occurred())
            return -1;
        *out = 0;
        return 1;
    }
    if (v == Py_None) {
        *out = 0;
        return 1;
    }
    if (PyObject_TypeCheck(v, (PyTypeObject *)g_ref_cls))
        return 2;
    return small_int(v, out) && *out >= 0;
}

/* the (number, offset) header of a decoded object stream:
 * re.findall(rb"\d+", decoded[:first])[:2 * n] as a malloc'd array.
 * 1 = the pairs and their count, 0 = bail (a number past 18 digits),
 * -1 = memory */
static int objstm_pairs(const unsigned char *m, Py_ssize_t len,
                        Py_ssize_t first, Py_ssize_t n_members,
                        long long **pairs, Py_ssize_t *cnt)
{
    Py_ssize_t end = first < len ? first : len, k = 0,
               want = n_members < (end + 1) / 2 ? 2 * n_members : end + 1;
    long long *v = (long long *)malloc(sizeof(long long) * (size_t)(want + 1));
    if (!v) {
        PyErr_NoMemory();
        return -1;
    }
    for (Py_ssize_t i = 0; i < end && k < want;) {
        if (m[i] < '0' || m[i] > '9') {
            i++;
            continue;
        }
        Py_ssize_t s = i;
        while (i < end && m[i] >= '0' && m[i] <= '9')
            i++;
        if (!digits_ll(m + s, i - s, &v[k++])) {
            free(v);
            return 0;
        }
    }
    *pairs = v;
    *cnt = k;
    return 1;
}

/* xref.recover_xref: the header scan; /Root from the last parseable
 * `trailer` dict, else an /XRef stream's dict; ObjStm members registered as
 * compressed entries; the /Catalog fallback; the /Size default.
 * (entries, trailer) or None (bail). */
static PyObject *recover(const unsigned char *d, Py_ssize_t n)
{
    PyObject *entries = PyDict_New(), *trailer = NULL, *keys = NULL;
    if (!entries)
        return NULL;
    int rc = scan_headers(d, n, entries);
    if (rc <= 0)
        goto fail;
    /* 1) the last parseable `trailer` keyword dict with /Root */
    for (Py_ssize_t t = brfind(d, n, "trailer", 7); t >= 0;
         t = brfind(d, t, "trailer", 7)) {
        OLex o = {d, n, t + 7, 0};
        PyObject *cand = NULL;
        rc = o_value_top(&o, &cand);
        if (rc == 2)
            continue;
        if (rc <= 0)
            goto fail;
        int has_root = PyDict_Check(cand) ? PyDict_Contains(cand, k_Root) : 0;
        if (has_root > 0) {
            trailer = cand;
            break;
        }
        Py_DECREF(cand);
        if (has_root < 0) {
            rc = -1;
            goto fail;
        }
    }
    rc = -1;
    if (!trailer && !(trailer = PyDict_New()))
        goto fail;
    /* 2) mine the scanned objects: /XRef stream dicts for /Root, ObjStm
     * members as compressed entries (the scan's own entries, by number) */
    keys = PyDict_Keys(entries);
    if (!keys || PyList_Sort(keys) < 0)
        goto fail;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(keys); i++) {
        PyObject *num = PyList_GET_ITEM(keys, i);
        PyObject *entry = PyDict_GetItemWithError(entries, num);
        Py_ssize_t off;
        if (!entry || !small_int(PyTuple_GET_ITEM(entry, 1), &off))
            goto fail;
        Py_ssize_t wend = off + 256 < n ? off + 256 : n;
        int is_xref = bfind(d, wend, off, "/XRef", 5) >= 0;
        int is_objstm = bfind(d, wend, off, "/ObjStm", 7) >= 0;
        if (!is_xref && !is_objstm)
            continue;
        OLex o = {d, n, off, 0};
        long long onum, ogen;
        PyObject *value = NULL;
        int has_stream;
        rc = o_indirect(&o, &onum, &ogen, &value, &has_stream);
        if (rc <= 0)
            goto fail;
        Py_ssize_t start, stop;
        rc = has_stream ? stream_span(d, n, value, NULL, o.pos, 1, 1, &start,
                                      &stop)
                        : 2; /* not a Stream */
        if (rc != 1) {
            Py_DECREF(value);
            if (rc == 2)
                continue; /* no stream, or PdfParseError: skipped */
            goto fail;
        }
        rc = -1;
        if (is_xref) {
            int root_t = PyDict_Contains(trailer, k_Root);
            int root_d = root_t ? 0 : PyDict_Contains(value, k_Root);
            if (root_t < 0 || root_d < 0) {
                Py_DECREF(value);
                goto fail;
            }
            if (root_d) {
                PyObject *mined[4] = {k_Root, k_Size, k_Info, k_ID};
                for (int k = 0; k < 4; k++) {
                    PyObject *v = PyDict_GetItemWithError(value, mined[k]);
                    if (v ? !PyDict_SetDefault(trailer, mined[k], v)
                          : PyErr_Occurred() != NULL) {
                        Py_DECREF(value);
                        goto fail;
                    }
                }
            }
        }
        if (is_objstm) {
            Py_ssize_t n_members, first;
            int rn = objstm_int(value, k_N, &n_members);
            int rf = rn == 1 ? objstm_int(value, k_First, &first) : rn;
            PyObject *stm = NULL, *dec = NULL;
            long long *pairs = NULL;
            Py_ssize_t cnt = 0;
            int raised = 0;
            rc = 1;
            if (rn < 0 || rf < 0)
                rc = -1;
            else if (rn == 0 || rf == 0)
                rc = 0;
            else if (!(stm = new_stream(d, start, stop, value)))
                rc = -1;
            else if (!(dec = stream_decode(stm, Py_None, &raised)))
                /* except Exception: pass */
                rc = PyErr_Occurred() ? -1 : raised ? 2 : 0;
            else if (rn == 2 || rf == 2)
                rc = 2; /* int(Ref): TypeError, caught */
            else
                rc = objstm_pairs((const unsigned char *)PyBytes_AS_STRING(dec),
                                  PyBytes_GET_SIZE(dec), first, n_members,
                                  &pairs, &cnt);
            if (rc == 1) {
                long long container = PyLong_AsLongLong(num);
                for (Py_ssize_t k = 0; k + 1 < cnt; k += 2)
                    if (put_entry(entries, pairs[k], g_c_str, container,
                                  k / 2, 0) < 0) {
                        rc = -1;
                        break;
                    }
            }
            free(pairs);
            Py_XDECREF(stm);
            Py_XDECREF(dec);
            if (rc <= 0) {
                Py_DECREF(value);
                goto fail;
            }
        }
        Py_DECREF(value);
    }
    rc = -1;
    /* 3) last resort: a /Type /Catalog object among the recovered headers */
    int has_root = PyDict_Contains(trailer, k_Root);
    if (has_root < 0)
        goto fail;
    if (!has_root) {
        Py_SETREF(keys, PyDict_Keys(entries));
        if (!keys || PyList_Sort(keys) < 0)
            goto fail;
        for (Py_ssize_t i = 0; i < PyList_GET_SIZE(keys); i++) {
            PyObject *num = PyList_GET_ITEM(keys, i);
            PyObject *entry = PyDict_GetItemWithError(entries, num);
            if (!entry)
                goto fail;
            if (PyTuple_GET_ITEM(entry, 0) != g_n_str)
                continue;
            Py_ssize_t off = PyLong_AsSsize_t(PyTuple_GET_ITEM(entry, 1));
            Py_ssize_t wend = off + 512 < n ? off + 512 : n;
            if (bfind(d, wend, off, "/Catalog", 8) < 0)
                continue;
            PyObject *ref = new_ref(PyLong_AsLongLong(num),
                                    PyLong_AsLongLong(PyTuple_GET_ITEM(entry, 2)));
            Py_SETREF(trailer, PyDict_Copy(trailer));
            if (!ref || !trailer || PyDict_SetItem(trailer, k_Root, ref) < 0) {
                Py_XDECREF(ref);
                goto fail;
            }
            Py_DECREF(ref);
            break;
        }
    }
    /* 4) the /Size default: max(entries) + 1, or 0 */
    long long size = 0;
    Py_ssize_t pos = 0;
    PyObject *k, *v;
    while (PyDict_Next(entries, &pos, &k, &v)) {
        long long x = PyLong_AsLongLong(k);
        if (x + 1 > size)
            size = x + 1;
    }
    PyObject *size_o = PyLong_FromLongLong(size);
    if (!size_o || !PyDict_SetDefault(trailer, k_Size, size_o)) {
        Py_XDECREF(size_o);
        goto fail;
    }
    Py_DECREF(size_o);
    Py_XDECREF(keys);
    return Py_BuildValue("(NN)", entries, trailer);
fail:
    Py_XDECREF(entries);
    Py_XDECREF(trailer);
    Py_XDECREF(keys);
    if (rc < 0 && PyErr_Occurred())
        return NULL;
    PyErr_Clear();
    Py_RETURN_NONE;
}

/* recover_xref(data): xref.recover_xref's (entries, trailer), or None */
static PyObject *recover_xref_c(PyObject *self, PyObject *args)
{
    PyObject *data_obj;
    if (!PyArg_ParseTuple(args, "O", &data_obj))
        return NULL;
    if (!PyBytes_Check(data_obj))
        Py_RETURN_NONE;
    return recover((const unsigned char *)PyBytes_AS_STRING(data_obj),
                   PyBytes_GET_SIZE(data_obj));
}

/* parse_xref_chain (start_offset None) over the bytes of data_obj: the
 * /Prev chain of traditional sections and xref streams, newest entries
 * and trailer keys first, with the hybrid /XRefStm hop, the cycle guard
 * and the 64-hop cap; recovery when nothing parses.  The entries go into
 * the empty table *entries.  1 with *trailer_out (new) and *mode (the
 * s_strict or s_recovered singleton), 0 = bail, -1 = exception. */
static int chain_tab(PyObject *data_obj, int lenient, XTab *entries,
                     PyObject **trailer_out, PyObject **mode)
{
    const unsigned char *d = (const unsigned char *)PyBytes_AS_STRING(data_obj);
    Py_ssize_t n = PyBytes_GET_SIZE(data_obj), offset = -1;
    int st = c_startxref(d, n, &offset);
    if (st < 0)
        return 0;
    PyObject *trailer = PyDict_New();
    Py_ssize_t seen[64];
    int hops = 0, ok = 0;
    if (!trailer)
        goto err;
    while (st == 1 && 0 <= offset && offset < n && hops < 64) {
        int cyc = 0;
        for (int i = 0; i < hops; i++)
            if (seen[i] == offset)
                cyc = 1;
        if (cyc)
            break; /* cycle guard */
        seen[hops++] = offset;
        PyObject *sec_trailer = NULL;
        Py_ssize_t end;
        int rc = (offset + 4 <= n && memcmp(d + offset, "xref", 4) == 0)
                     ? xref_section(d, n, offset, entries, &sec_trailer, &end)
                     : xref_stream_at(d, n, offset, lenient, entries,
                                      &sec_trailer);
        if (rc < 0)
            goto err;
        if (rc == 0)
            goto bail;
        if (rc == 2)
            break; /* the section raised: the chain stops here */
        ok = 1;
        Py_ssize_t pos = 0;
        PyObject *k, *v;
        while (PyDict_Next(sec_trailer, &pos, &k, &v))
            if (!PyDict_SetDefault(trailer, k, v)) {
                Py_DECREF(sec_trailer);
                goto err;
            }
        /* hybrid file: an int /XRefStm names an xref stream whose entries
         * join the chain's; a failing one is skipped */
        PyObject *stm = PyDict_GetItemWithError(sec_trailer, k_XRefStm);
        Py_ssize_t stm_off;
        int verdict = 0; /* 1 = follow /Prev, 0 = stop, -1 = bail */
        if (stm && PyLong_Check(stm)) {
            PyObject *stm_trailer = NULL;
            /* past the end: "no object header", skipped; a negative
             * offset parses from 0 in Python: bail */
            rc = !small_int(stm, &stm_off) || stm_off < 0 ? 0
                 : stm_off >= n ? 2
                 : xref_stream_at(d, n, stm_off, lenient, entries,
                                  &stm_trailer);
            Py_XDECREF(stm_trailer);
            if (rc < 0) {
                Py_DECREF(sec_trailer);
                goto err;
            }
            if (rc == 0)
                verdict = -1;
        }
        /* a bool, float or huge /Prev: Python decides; any other /Prev
         * value ends the chain */
        PyObject *prev =
            PyErr_Occurred() ? NULL
                             : PyDict_GetItemWithError(sec_trailer, k_Prev);
        if (verdict < 0 || PyErr_Occurred())
            ;
        else if (!prev)
            verdict = 0;
        else if (small_int(prev, &offset))
            verdict = 1;
        else
            verdict = (PyLong_Check(prev) || PyFloat_Check(prev)) ? -1 : 0;
        Py_DECREF(sec_trailer);
        if (PyErr_Occurred())
            goto err;
        if (verdict < 0)
            goto bail;
        if (verdict == 0)
            break;
    }
    if (!ok || entries->n == 0) {
        Py_DECREF(trailer);
        xt_free(entries);
        PyObject *r = recover(d, n);
        if (!r || r == Py_None)
            return r ? (Py_DECREF(r), 0) : -1;
        int rc = xt_from_dict(entries, PyTuple_GET_ITEM(r, 0));
        if (rc == 1) {
            *trailer_out = Py_NewRef(PyTuple_GET_ITEM(r, 1));
            *mode = s_recovered;
        } else
            xt_free(entries);
        Py_DECREF(r);
        return rc;
    }
    *trailer_out = trailer;
    *mode = s_strict;
    return 1;
bail:
    xt_free(entries);
    Py_XDECREF(trailer);
    return 0;
err:
    xt_free(entries);
    Py_XDECREF(trailer);
    return -1;
}

/* xref_chain(data, lenient=True): chain_tab's (entries, trailer, mode)
 * with the entries as the xref dict, or None (bail) */
static PyObject *xref_chain(PyObject *self, PyObject *args)
{
    PyObject *data_obj, *trailer, *mode;
    int lenient = 1;
    if (!PyArg_ParseTuple(args, "O|p", &data_obj, &lenient))
        return NULL;
    if (!PyBytes_Check(data_obj))
        Py_RETURN_NONE;
    XTab t = {0};
    int rc = chain_tab(data_obj, lenient, &t, &trailer, &mode);
    if (rc <= 0)
        return rc < 0 ? NULL : Py_NewRef(Py_None);
    PyObject *entries = xt_dict(&t);
    xt_free(&t);
    if (!entries) {
        Py_DECREF(trailer);
        return NULL;
    }
    return Py_BuildValue("(NNO)", entries, trailer, mode);
}

/* one document's state for the duration of a C call, in one of two
 * modes.  Over a PdfReader (doc_open, tab 0): borrowed views into its
 * slots, held by new refs.  Over the tables (the batch loop, tab 1): the
 * xref table holds the entries, the fetched objects and the object-stream
 * members, and res the (num, gen) pairs being fetched (the reader's
 * _resolving).  A Python step that needs a reader (a FontInfo build, a
 * content stream decode handed to Python) gets one from the batch's
 * factory, built once per document through PdfReader's constructor
 * (doc_reader); the fetch goes on over the tables. */
typedef struct {
    PyObject *reader, *data, *xref, *cache, *resolving, *objstm;
    PyObject *factory; /* tab 1: PdfReader(data, ...) (borrowed) */
    const unsigned char *d;
    Py_ssize_t n;
    int lenient, tab;
    int objstm_py; /* tab 1: a container's decode was Python's (a bail) */
    XTab xt;
    long long *res; /* num, gen pairs */
    Py_ssize_t nres, capres;
} Doc;

static void doc_close(Doc *doc)
{
    Py_CLEAR(doc->data);
    Py_CLEAR(doc->xref);
    Py_CLEAR(doc->cache);
    Py_CLEAR(doc->resolving);
    Py_CLEAR(doc->objstm);
    xt_free(&doc->xt);
    free(doc->res);
    doc->res = NULL;
    if (doc->tab) /* a reader doc_reader built is the doc's own */
        Py_CLEAR(doc->reader);
    else
        doc->reader = NULL;
}

static PyObject *okey(long long num, long long gen)
{
    return Py_BuildValue("(LL)", num, gen);
}

/* the PdfReader of the document: over the tables, the factory's, built
 * on first use (borrowed; NULL on an exception) */
static PyObject *doc_reader(Doc *doc)
{
    if (!doc->reader)
        doc->reader = PyObject_CallOneArg(doc->factory, doc->data);
    return doc->reader;
}

/* the fetch of (num, gen) starts (add) or ends: key is the (num, gen)
 * tuple over a reader, NULL in the batch loop */
static int res_mark(Doc *doc, PyObject *key, long long num, long long gen,
                    int add)
{
    if (!doc->tab) {
        PyObject *k = key ? Py_NewRef(key) : okey(num, gen);
        int rc = !k ? -1 : add ? PySet_Add(doc->resolving, k)
                               : PySet_Discard(doc->resolving, k) < 0 ? -1 : 0;
        Py_XDECREF(k);
        return rc;
    }
    if (!add) { /* the marks nest: the last one with these numbers */
        for (Py_ssize_t i = doc->nres - 1; i >= 0; i--)
            if (doc->res[2 * i] == num && doc->res[2 * i + 1] == gen) {
                memmove(doc->res + 2 * i, doc->res + 2 * i + 2,
                        sizeof(long long) * (size_t)(2 * (doc->nres - i - 1)));
                doc->nres--;
                break;
            }
        return 0;
    }
    if (doc->nres == doc->capres) {
        Py_ssize_t cap = doc->capres ? doc->capres * 2 : 8;
        long long *r = (long long *)realloc(doc->res,
                                            sizeof(long long) * 2 * (size_t)cap);
        if (!r) {
            PyErr_NoMemory();
            return -1;
        }
        doc->res = r;
        doc->capres = cap;
    }
    doc->res[2 * doc->nres] = num;
    doc->res[2 * doc->nres + 1] = gen;
    doc->nres++;
    return 0;
}

/* 1 = ready, 0 = bail (encrypted, a reader still being built, unexpected
 * reader shape), -1 = exception.  Strict and recovered readers are served
 * alike: the fetch reads only the xref entries. */
static int doc_open(Doc *doc, PyObject *reader)
{
    memset(doc, 0, sizeof(*doc));
    doc->reader = reader;
    PyObject *dec = PyObject_GetAttr(reader, s_decryptor);
    PyObject *mode = dec ? PyObject_GetAttr(reader, s_mode) : NULL;
    PyObject *len = mode ? PyObject_GetAttr(reader, s_lenient) : NULL;
    int ok = len && dec == Py_None && PyUnicode_Check(mode) &&
             (PyUnicode_Compare(mode, s_strict) == 0 ||
              PyUnicode_Compare(mode, s_recovered) == 0);
    if (ok) {
        doc->lenient = PyObject_IsTrue(len);
        doc->data = PyObject_GetAttr(reader, s_data);
        doc->xref = doc->data ? PyObject_GetAttr(reader, s_xref) : NULL;
        doc->cache = doc->xref ? PyObject_GetAttr(reader, s_cache) : NULL;
        doc->resolving =
            doc->cache ? PyObject_GetAttr(reader, s_resolving) : NULL;
        doc->objstm =
            doc->resolving ? PyObject_GetAttr(reader, s_objstm_cache) : NULL;
        ok = doc->lenient >= 0 && doc->objstm &&
             PyBytes_CheckExact(doc->data) && PyDict_CheckExact(doc->xref) &&
             PyDict_CheckExact(doc->cache) && PySet_Check(doc->resolving) &&
             PyDict_CheckExact(doc->objstm);
    }
    Py_XDECREF(dec);
    Py_XDECREF(mode);
    Py_XDECREF(len);
    if (!ok) {
        doc_close(doc);
        /* a reader still in construction lacks some slots: bail, never
         * raise from the fast path */
        if (PyErr_Occurred() && !PyErr_ExceptionMatches(PyExc_AttributeError))
            return -1;
        PyErr_Clear();
        return 0;
    }
    doc->d = (const unsigned char *)PyBytes_AS_STRING(doc->data);
    doc->n = PyBytes_GET_SIZE(doc->data);
    return 1;
}

static PyObject *doc_resolve(Doc *doc, PyObject *v, int *bail);

/* reader._capture_stream without a decryptor: the payload after the
 * `stream` keyword at pos of the object (num, gen) (key: see res_mark).
 * An indirect /Length resolves with the object marked as being fetched,
 * as get_object holds it in _resolving.  New Stream, or NULL with *bail /
 * exception (a strict /Length mismatch or an unterminated stream raises
 * in Python, which then rescans or propagates: bail). */
static PyObject *doc_stream(Doc *doc, PyObject *key, long long num,
                            long long gen, PyObject *value, Py_ssize_t pos,
                            int *bail)
{
    Py_ssize_t start, stop;
    PyObject *length = PyDict_GetItemWithError(value, k_Length), *res = NULL;
    if (!length && PyErr_Occurred())
        return NULL;
    if (length && PyObject_TypeCheck(length, (PyTypeObject *)g_ref_cls)) {
        if (res_mark(doc, key, num, gen, 1) < 0)
            return NULL;
        res = doc_resolve(doc, length, bail);
        if (res_mark(doc, key, num, gen, 0) < 0)
            Py_CLEAR(res);
        if (!res)
            return NULL;
    }
    int rc = stream_span(doc->d, doc->n, value, res, pos, doc->lenient, 0,
                         &start, &stop);
    Py_XDECREF(res);
    if (rc != 1) {
        *bail = rc >= 0;
        return NULL;
    }
    return new_stream(doc->d, start, stop, value);
}

static PyObject *doc_fetch(Doc *doc, PyObject *num, PyObject *gen, int *bail);

/* PdfReader._get_compressed_object's container parse: the {number:
 * value} members of object stream `container`, the dict the reader keeps
 * in _objstm_cache.  Python holds the member being fetched, (num, gen)
 * (key: see res_mark), in _resolving throughout, and so does this.  New
 * ref, or NULL with *bail / an exception. */
static PyObject *objstm_members(Doc *doc, PyObject *key, long long num,
                                long long gen, PyObject *container,
                                int *bail)
{
    PyObject *zero = NULL, *stm = NULL, *resolve = NULL, *dec = NULL,
             *parsed = NULL;
    long long *pairs = NULL;
    if (res_mark(doc, key, num, gen, 1) < 0)
        return NULL;
    zero = PyLong_FromLong(0);
    stm = zero ? doc_fetch(doc, container, zero, bail) : NULL;
    if (!stm)
        goto done;
    parsed = PyDict_New();
    if (!parsed || !PyObject_TypeCheck(stm, (PyTypeObject *)g_stream_cls))
        goto done; /* not a stream: no members */
    PyObject *sd = PyObject_GetAttr(stm, s_dict);
    Py_ssize_t n_members, first, cnt = 0;
    int rn = sd && PyDict_Check(sd) ? objstm_int(sd, k_N, &n_members) : 0;
    int rf = rn == 1 ? objstm_int(sd, k_First, &first) : 0;
    Py_XDECREF(sd);
    if (rn < 0 || rf < 0) {
        Py_CLEAR(parsed);
        goto done;
    }
    if (rn != 1 || rf != 1) { /* an indirect or odd /N or /First */
        PyErr_Clear();
        *bail = 1;
        Py_CLEAR(parsed);
        goto done;
    }
    int raised;
    dec = stream_native(stm, FS_OBJSTM);
    if (!dec && !PyErr_Occurred()) {
        /* Python's decode runs over the reader's resolve; over the tables
         * it would run in the middle of this fetch, which a reader's
         * _resolving does not hold: a bail */
        if (doc->tab)
            doc->objstm_py = 1;
        else if ((resolve = PyObject_GetAttr(doc->reader, s_resolve)))
            dec = stream_decode(stm, resolve, &raised);
    }
    if (!dec) {
        *bail = !PyErr_Occurred();
        Py_CLEAR(parsed);
        goto done;
    }
    const unsigned char *m = (const unsigned char *)PyBytes_AS_STRING(dec);
    Py_ssize_t len = PyBytes_GET_SIZE(dec);
    int rc = objstm_pairs(m, len, first, n_members, &pairs, &cnt);
    if (rc <= 0) {
        *bail = rc == 0;
        Py_CLEAR(parsed);
        goto done;
    }
    for (Py_ssize_t k = 0; k + 1 < cnt; k += 2) {
        /* parse_object(Lexer(decoded, first + off)); PdfParseError → None */
        OLex o = {m, len, 0, 0};
        PyObject *v = NULL;
        if (pairs[k + 1] > PY_SSIZE_T_MAX - first) {
            rc = 0;
        } else {
            o.pos = first + (Py_ssize_t)pairs[k + 1];
            rc = o_value_top(&o, &v);
        }
        if (rc == 2) {
            v = Py_None;
            Py_INCREF(v);
        } else if (rc <= 0) {
            *bail = rc == 0;
            Py_CLEAR(parsed);
            goto done;
        }
        PyObject *onum = PyLong_FromLongLong(pairs[k]);
        rc = onum ? PyDict_SetItem(parsed, onum, v) : -1;
        Py_XDECREF(onum);
        Py_DECREF(v);
        if (rc < 0) {
            Py_CLEAR(parsed);
            goto done;
        }
    }
done:
    free(pairs);
    if (res_mark(doc, key, num, gen, 0) < 0)
        Py_CLEAR(parsed);
    Py_XDECREF(zero);
    Py_XDECREF(stm);
    Py_XDECREF(resolve);
    Py_XDECREF(dec);
    return parsed;
}

/* an exact int as a long long: 1, else 0 */
static int exact_ll(PyObject *v, long long *out)
{
    int overflow = 0;
    if (!PyLong_CheckExact(v))
        return 0;
    *out = PyLong_AsLongLongAndOverflow(v, &overflow);
    if (overflow || (*out == -1 && PyErr_Occurred())) {
        PyErr_Clear();
        return 0;
    }
    return 1;
}

/* get_object over the batch loop's tables (doc->tab): see doc_fetch.
 * An entry keeps the object fetched for it and, for an object stream's
 * container, its members; a reader built for a Python step never takes
 * them over. */
static PyObject *tab_fetch(Doc *doc, long long num, long long gen, int *bail)
{
    XEnt *x = xt_find(&doc->xt, num);
    if (x && x->obj) {
        if (x->gen == gen)
            return Py_NewRef(x->obj);
        *bail = 1; /* a second generation of one number: Python's */
        return NULL;
    }
    for (Py_ssize_t i = 0; i < doc->nres; i++)
        if (doc->res[2 * i] == num && doc->res[2 * i + 1] == gen) {
            *bail = 1; /* a reference cycle */
            return NULL;
        }
    if (!x) { /* a missing entry is filled from a header scan in Python */
        *bail = 1;
        return NULL;
    }
    PyObject *obj = NULL;
    if (x->kind == 'f') {
        obj = Py_NewRef(Py_None);
    } else if (x->kind == 'n') {
        OLex o;
        o.d = doc->d;
        o.n = doc->n;
        o.pos = x->a >= 0 ? (Py_ssize_t)x->a : 0;
        o.bail = 0;
        long long pnum, pgen;
        PyObject *value;
        int has_stream;
        int rc = o_indirect(&o, &pnum, &pgen, &value, &has_stream);
        if (rc <= 0) {
            *bail = rc == 0;
            return NULL;
        }
        if (pnum != num) { /* wrong object at the offset: Python rescans */
            Py_DECREF(value);
            *bail = 1;
            return NULL;
        }
        if (has_stream) {
            obj = doc_stream(doc, NULL, num, gen, value, o.pos, bail);
            Py_DECREF(value);
            if (!obj)
                return NULL;
        } else
            obj = value;
    } else {
        /* _get_compressed_object (an entry naming its own number as
         * container: Python) */
        long long cnum = x->a;
        if (cnum == num) {
            *bail = 1;
            return NULL;
        }
        XEnt *cx = xt_find(&doc->xt, cnum);
        PyObject *parsed = cx && cx->members ? Py_NewRef(cx->members) : NULL;
        PyObject *container = PyLong_FromLongLong(cnum);
        if (!container) {
            Py_XDECREF(parsed);
            return NULL;
        }
        if (!parsed) {
            parsed = objstm_members(doc, NULL, num, gen, container, bail);
            if (parsed && cx)
                Py_XSETREF(cx->members, Py_NewRef(parsed));
        }
        Py_DECREF(container);
        if (!parsed)
            return NULL;
        PyObject *key = PyLong_FromLongLong(num);
        obj = key ? PyDict_GetItemWithError(parsed, key) : NULL;
        Py_XDECREF(key);
        if (!obj && !PyErr_Occurred())
            obj = Py_None;
        Py_XINCREF(obj);
        Py_DECREF(parsed);
        if (!obj)
            return NULL;
    }
    Py_XSETREF(x->obj, Py_NewRef(obj));
    x->gen = gen;
    return obj;
}

/* PdfReader.get_object(num, gen) for cached, free, in-use and compressed
 * entries: new ref, or NULL with *bail set (no exception) / an exception */
static PyObject *doc_fetch(Doc *doc, PyObject *num, PyObject *gen, int *bail)
{
    if (doc->tab) {
        long long n, g;
        if (!exact_ll(num, &n) || !exact_ll(gen, &g)) {
            *bail = 1;
            return NULL;
        }
        return tab_fetch(doc, n, g, bail);
    }
    PyObject *key = PyTuple_Pack(2, num, gen);
    if (!key)
        return NULL;
    PyObject *obj = PyDict_GetItemWithError(doc->cache, key);
    if (obj || PyErr_Occurred()) {
        Py_XINCREF(obj);
        Py_DECREF(key);
        return obj;
    }
    obj = NULL;
    if (PySet_GET_SIZE(doc->resolving)) {
        int r = PySet_Contains(doc->resolving, key);
        if (r != 0) { /* a reference cycle, or an error */
            *bail = r > 0;
            goto done;
        }
    }
    /* a missing entry is filled from a header scan in Python */
    PyObject *entry = PyDict_GetItemWithError(doc->xref, num);
    Py_ssize_t offset;
    long long want;
    if (!entry || !PyTuple_CheckExact(entry) || PyTuple_GET_SIZE(entry) != 3 ||
        !PyUnicode_Check(PyTuple_GET_ITEM(entry, 0)) ||
        PyUnicode_GET_LENGTH(PyTuple_GET_ITEM(entry, 0)) != 1) {
        *bail = !PyErr_Occurred();
        goto done;
    }
    Py_UCS4 kind = PyUnicode_READ_CHAR(PyTuple_GET_ITEM(entry, 0), 0);
    if (kind == 'f') {
        obj = Py_None;
        Py_INCREF(obj);
    } else if (kind == 'n' && small_int(PyTuple_GET_ITEM(entry, 1), &offset) &&
               PyLong_CheckExact(num) &&
               (want = PyLong_AsLongLong(num), !PyErr_Occurred())) {
        OLex o;
        o.d = doc->d;
        o.n = doc->n;
        o.pos = offset >= 0 ? offset : 0;
        o.bail = 0;
        long long pnum, pgen;
        PyObject *value;
        int has_stream;
        int rc = o_indirect(&o, &pnum, &pgen, &value, &has_stream);
        if (rc <= 0) {
            *bail = rc == 0;
            goto done;
        }
        if (pnum != want) { /* wrong object at the offset: Python rescans */
            Py_DECREF(value);
            *bail = 1;
            goto done;
        }
        if (has_stream) {
            obj = doc_stream(doc, key, 0, 0, value, o.pos, bail);
            Py_DECREF(value);
            if (!obj)
                goto done;
        } else
            obj = value;
    } else if (kind == 'c' && PyLong_CheckExact(PyTuple_GET_ITEM(entry, 1)) &&
               PyLong_CheckExact(num)) {
        /* _get_compressed_object: the member from its container's parsed
         * members (an entry naming its own number as container: Python) */
        PyObject *container = PyTuple_GET_ITEM(entry, 1);
        int same = PyObject_RichCompareBool(container, num, Py_EQ);
        if (same != 0) {
            *bail = same > 0;
            goto done;
        }
        PyObject *parsed = PyDict_GetItemWithError(doc->objstm, container);
        if (parsed)
            Py_INCREF(parsed);
        else if (!PyErr_Occurred()) {
            Py_INCREF(container); /* the decode runs Python code */
            parsed = objstm_members(doc, key, 0, 0, container, bail);
            if (parsed && PyDict_SetItem(doc->objstm, container, parsed) < 0)
                Py_CLEAR(parsed);
            Py_DECREF(container);
        }
        if (!parsed)
            goto done;
        if (!PyDict_Check(parsed)) {
            Py_DECREF(parsed);
            *bail = 1;
            goto done;
        }
        obj = PyDict_GetItemWithError(parsed, num);
        if (!obj && !PyErr_Occurred())
            obj = Py_None;
        Py_XINCREF(obj);
        Py_DECREF(parsed);
        if (!obj)
            goto done;
    } else {
        /* odd entries and offsets: Python path */
        PyErr_Clear();
        *bail = 1;
        goto done;
    }
    if (PyDict_SetItem(doc->cache, key, obj) < 0)
        Py_CLEAR(obj);
done:
    Py_DECREF(key);
    return obj;
}

/* PdfReader.resolve: follow up to 32 Ref hops (v borrowed, NULL read as
 * None; new ref) */
static PyObject *doc_resolve(Doc *doc, PyObject *v, int *bail)
{
    if (!v) { /* a missing key (dict.get → None), or a lookup error */
        if (PyErr_Occurred())
            return NULL;
        v = Py_None;
    }
    Py_INCREF(v);
    for (int hops = 0;
         hops < 32 && PyObject_TypeCheck(v, (PyTypeObject *)g_ref_cls);
         hops++) {
        if (PyTuple_GET_SIZE(v) != 2) {
            Py_DECREF(v);
            *bail = 1;
            return NULL;
        }
        PyObject *nv = doc_fetch(doc, PyTuple_GET_ITEM(v, 0),
                                 PyTuple_GET_ITEM(v, 1), bail);
        Py_DECREF(v);
        if (!nv)
            return NULL;
        v = nv;
    }
    return v;
}

/* get_object(reader, num, gen): the object, or BAIL → Python get_object */
static PyObject *c_get_object(PyObject *self, PyObject *args)
{
    PyObject *reader, *num, *gen;
    if (!PyArg_ParseTuple(args, "OOO", &reader, &num, &gen))
        return NULL;
    Doc doc;
    int rc = doc_open(&doc, reader);
    if (rc <= 0) {
        if (rc < 0)
            return NULL;
        Py_INCREF(g_bail);
        return g_bail;
    }
    int bail = 0;
    PyObject *obj = doc_fetch(&doc, num, gen, &bail);
    doc_close(&doc);
    if (!obj && bail && !PyErr_Occurred()) {
        Py_INCREF(g_bail);
        return g_bail;
    }
    return obj;
}

typedef struct {
    Doc *doc;
    PyObject *page_cls, *result, *visited;
    long max_depth;
    int bail;
} Walk;

/* pages.flatten_page_tree's walk(node, inherited, depth): 0 ok, -1 stop
 * (w->bail set, or an exception) */
static int walk_node(Walk *w, PyObject *node, PyObject *inherited, long depth)
{
    if (depth > w->max_depth || !PyDict_Check(node))
        return 0;
    PyObject *typ = PyDict_GetItemWithError(node, k_Type);
    if (!typ && PyErr_Occurred())
        return -1;
    /* str(node.get("Type", "")) == "Page": only a str can print as Page */
    int is_page = typ && PyUnicode_Check(typ) &&
                  PyUnicode_Compare(typ, k_Page) == 0;
    PyObject *inh = PyDict_Copy(inherited);
    if (!inh)
        return -1;
    int rc = -1;
    for (int i = 0; i < 4; i++) {
        PyObject *v = PyDict_GetItemWithError(node, k_inheritable[i]);
        if (v ? PyDict_SetItem(inh, k_inheritable[i], v) < 0
              : PyErr_Occurred() != NULL)
            goto out;
    }
    if (!is_page) {
        int kids_in = PyDict_Contains(node, k_Kids);
        int cont_in = PyDict_Contains(node, k_Contents);
        if (kids_in < 0 || cont_in < 0)
            goto out;
        is_page = !kids_in && cont_in;
    }
    if (is_page) {
        PyObject *d = PyDict_Copy(node);
        if (!d)
            goto out;
        PyObject *res = NULL, *mb = NULL, *page = NULL;
        for (int i = 0; i < 4; i++) {
            PyObject *k = k_inheritable[i];
            int in_d = PyDict_Contains(d, k);
            PyObject *v = in_d ? NULL : PyDict_GetItemWithError(inh, k);
            if (in_d < 0 || (v && PyDict_SetItem(d, k, v) < 0) ||
                (!v && PyErr_Occurred()))
                goto page_out;
        }
        res = doc_resolve(w->doc, PyDict_GetItemWithError(d, k_Resources),
                          &w->bail);
        if (!res)
            goto page_out;
        mb = doc_resolve(w->doc, PyDict_GetItemWithError(d, k_MediaBox),
                         &w->bail);
        if (!mb)
            goto page_out;
        if (!PyDict_Check(res)) {
            Py_SETREF(res, PyDict_New());
            if (!res)
                goto page_out;
        }
        page = w->page_cls
                   ? PyObject_CallFunctionObjArgs(w->page_cls, d, res, mb, NULL)
                   : PyTuple_Pack(2, d, res);
        if (page && PyList_Append(w->result, page) == 0)
            rc = 0;
    page_out:
        Py_XDECREF(page);
        Py_XDECREF(res);
        Py_XDECREF(mb);
        Py_DECREF(d);
        goto out;
    }
    PyObject *kids_v = PyDict_GetItemWithError(node, k_Kids);
    if (!kids_v && PyErr_Occurred())
        goto out;
    PyObject *kids = doc_resolve(w->doc, kids_v, &w->bail);
    if (!kids)
        goto out;
    if (PyList_Check(kids)) {
        for (Py_ssize_t i = 0; i < PyList_GET_SIZE(kids); i++) {
            PyObject *kid = PyList_GET_ITEM(kids, i);
            PyObject *marker =
                PyObject_TypeCheck(kid, (PyTypeObject *)g_ref_cls)
                    ? (Py_INCREF(kid), kid)
                    : PyLong_FromVoidPtr(kid); /* id(kid) */
            if (!marker)
                goto kids_out;
            int seen = PySet_Contains(w->visited, marker);
            if (seen == 0 && PySet_Add(w->visited, marker) < 0)
                seen = -1;
            Py_DECREF(marker);
            if (seen < 0)
                goto kids_out;
            if (seen) /* cycle guard */
                continue;
            Py_INCREF(kid); /* the list may not outlive a deep resolve */
            PyObject *child = doc_resolve(w->doc, kid, &w->bail);
            Py_DECREF(kid);
            if (!child)
                goto kids_out;
            int r = walk_node(w, child, inh, depth + 1);
            Py_DECREF(child);
            if (r < 0)
                goto kids_out;
        }
    }
    rc = 0;
kids_out:
    Py_DECREF(kids);
out:
    Py_DECREF(inh);
    return rc;
}

/* the page list of doc under trailer: Page(dict, resources, media_box)
 * objects, or (dict, resources) tuples when page_cls is NULL.  New ref, or
 * NULL with *bail set (no exception) / an exception. */
static PyObject *flatten_doc(Doc *doc, PyObject *trailer, PyObject *page_cls,
                             long max_depth, int *bail)
{
    Walk w = {doc, page_cls, NULL, NULL, max_depth, 0};
    PyObject *catalog = NULL, *pages = NULL, *empty = NULL;
    if (!PyDict_Check(trailer)) {
        *bail = 1;
        return NULL;
    }
    catalog = doc_resolve(doc, PyDict_GetItemWithError(trailer, k_Root),
                          &w.bail);
    if (!catalog)
        goto fail;
    if (!PyDict_Check(catalog)) { /* reader.catalog() raises */
        w.bail = 1;
        goto fail;
    }
    pages = doc_resolve(doc, PyDict_GetItemWithError(catalog, k_Pages),
                        &w.bail);
    w.result = PyList_New(0);
    w.visited = PySet_New(NULL);
    empty = PyDict_New();
    if (!pages || !w.result || !w.visited || !empty)
        goto fail;
    if (walk_node(&w, pages, empty, 0) < 0)
        goto fail;
    Py_DECREF(catalog);
    Py_DECREF(pages);
    Py_DECREF(empty);
    Py_DECREF(w.visited);
    return w.result;
fail:
    Py_XDECREF(catalog);
    Py_XDECREF(pages);
    Py_XDECREF(empty);
    Py_XDECREF(w.visited);
    Py_XDECREF(w.result);
    *bail = w.bail && !PyErr_Occurred();
    return NULL;
}

/* flatten_pages(reader, Page, max_depth): the flatten_page_tree list, or
 * None → Python walks the tree itself */
static PyObject *flatten_pages(PyObject *self, PyObject *args)
{
    PyObject *reader, *page_cls;
    long max_depth;
    if (!PyArg_ParseTuple(args, "OOl", &reader, &page_cls, &max_depth))
        return NULL;
    Doc doc;
    int rc = doc_open(&doc, reader);
    if (rc <= 0) {
        if (rc < 0)
            return NULL;
        Py_RETURN_NONE;
    }
    int bail = 0;
    PyObject *trailer = PyObject_GetAttr(reader, s_trailer);
    PyObject *pages =
        trailer ? flatten_doc(&doc, trailer, page_cls, max_depth, &bail)
                : NULL;
    Py_XDECREF(trailer);
    doc_close(&doc);
    if (!pages && bail)
        Py_RETURN_NONE;
    return pages;
}

/* one content stream's bytes (pages._safe_decode): unfiltered payloads
 * and the chains native_decode serves natively, any other through the
 * Python helper.  New ref or NULL (exception). */
static PyObject *content_bytes(Doc *doc, PyObject *stm,
                               PyObject *safe_decode)
{
    PyObject *sd = PyObject_GetAttr(stm, s_dict);
    if (!sd)
        return NULL;
    int plain = 0;
    if (PyDict_Check(sd)) {
        PyObject *filt = PyDict_GetItemWithError(sd, k_Filter);
        int parms = -1;
        if (!PyErr_Occurred()) {
            parms = PyDict_Contains(sd, k_DecodeParms);
            if (parms == 0)
                parms = PyDict_Contains(sd, k_DP);
        }
        if (parms < 0) {
            Py_DECREF(sd);
            return NULL;
        }
        /* decode_stream_data(raw, None, None) is raw itself */
        plain = (!filt || filt == Py_None) && !parms;
    }
    Py_DECREF(sd);
    if (plain)
        return PyObject_GetAttr(stm, s_raw);
    PyObject *dec = stream_native(stm, FS_CONTENT);
    if (dec || PyErr_Occurred())
        return dec;
    PyObject *reader = doc_reader(doc);
    return reader ? PyObject_CallFunctionObjArgs(safe_decode, reader, stm, NULL)
                  : NULL;
}

/* the joined /Contents bytes of an open document (contents: the page
 * dict's value): new bytes, or NULL with *bail set / an exception */
static PyObject *doc_contents(Doc *doc, PyObject *contents,
                              PyObject *safe_decode, int *bail)
{
    PyObject *parts = NULL, *out = NULL;
    PyObject *c = doc_resolve(doc, contents, bail);
    if (!c)
        goto done;
    parts = PyList_New(0);
    if (!parts)
        goto done;
    int is_list = PyList_Check(c);
    for (Py_ssize_t i = 0; is_list ? i < PyList_GET_SIZE(c) : i < 1; i++) {
        PyObject *obj;
        if (is_list) {
            PyObject *item = PyList_GET_ITEM(c, i);
            Py_INCREF(item);
            obj = doc_resolve(doc, item, bail);
            Py_DECREF(item);
            if (!obj)
                goto done;
        } else {
            obj = c;
            Py_INCREF(obj);
        }
        int r = 0;
        if (PyObject_TypeCheck(obj, (PyTypeObject *)g_stream_cls)) {
            PyObject *b = content_bytes(doc, obj, safe_decode);
            r = b ? PyList_Append(parts, b) : -1;
            Py_XDECREF(b);
        }
        Py_DECREF(obj);
        if (r < 0)
            goto done;
    }
    out = PyObject_CallMethodOneArg(g_space_bytes, s_join, parts);
done:
    Py_XDECREF(c);
    Py_XDECREF(parts);
    return out;
}

/* page_content(reader, contents, _safe_decode): the joined /Contents
 * bytes, or None → Python assembles them */
static PyObject *page_content_c(PyObject *self, PyObject *args)
{
    PyObject *reader, *contents, *safe_decode;
    if (!PyArg_ParseTuple(args, "OOO", &reader, &contents, &safe_decode))
        return NULL;
    Doc doc;
    int rc = doc_open(&doc, reader);
    if (rc <= 0) {
        if (rc < 0)
            return NULL;
        Py_RETURN_NONE;
    }
    int bail = 0;
    PyObject *out = doc_contents(&doc, contents, safe_decode, &bail);
    doc_close(&doc);
    if (!out && bail && !PyErr_Occurred())
        Py_RETURN_NONE;
    return out;
}

/* ---- LZWDecode (filters.decode_lzw) ------------------------------------ *
 * 9-bit initial codes, Clear=256, EOD=257, the width bumps when the table
 * size + early_change reaches 2^width (to 12 bits).  The table keeps
 * growing past 4096 entries as the Python list does, but no code can name
 * those, so only the count is kept.  An entry is (prefix code, length,
 * first byte, last byte); output is written back to front along the
 * prefix chain.  Returns the bytes, or the str message decode_lzw raises
 * as FilterError. */
typedef struct {
    int prefix, len;
    unsigned char first, last;
} LzwEnt;

static PyObject *lzw_run(const unsigned char *p, Py_ssize_t n,
                         long long early, long long cap)
{
    LzwEnt *tab = (LzwEnt *)malloc(4096 * sizeof(LzwEnt));
    Py_ssize_t ocap = n * 4 + 256, olen = 0;
    unsigned char *out = (unsigned char *)malloc((size_t)ocap);
    PyObject *res = NULL;
    if (!tab || !out) {
        PyErr_NoMemory();
        goto done;
    }
    for (int i = 0; i < 256; i++) {
        tab[i].prefix = -1;
        tab[i].len = 1;
        tab[i].first = tab[i].last = (unsigned char)i;
    }
    long long tlen = 258;
    int width = 9, prev = -1, bitcnt = 0;
    unsigned long bitbuf = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        bitbuf = ((bitbuf << 8) | p[i]) & 0xFFFFFFUL;
        bitcnt += 8;
        while (bitcnt >= width) {
            int code = (int)((bitbuf >> (bitcnt - width)) & ((1UL << width) - 1));
            bitcnt -= width;
            if (code == 256) { /* Clear */
                tlen = 258;
                width = 9;
                prev = -1;
                continue;
            }
            if (code == 257) /* EOD */
                goto finish;
            int ent = code;
            if (prev < 0) {
                if (code >= tlen) {
                    res = PyUnicode_FromFormat("invalid initial LZW code %d",
                                               code);
                    goto done;
                }
            } else if (code < tlen || code == tlen) {
                /* table.append(prev + entry[:1]); for code == len(table)
                 * the entry is that new one: prev + prev[:1] */
                if (tlen < 4096) {
                    LzwEnt *e = &tab[tlen];
                    e->prefix = prev;
                    e->len = tab[prev].len + 1;
                    e->first = tab[prev].first;
                    e->last = code < tlen ? tab[code].first : tab[prev].first;
                }
                tlen++;
            } else {
                res = PyUnicode_FromFormat("invalid LZW code %d", code);
                goto done;
            }
            int len = tab[ent].len;
            if (olen + len > ocap) {
                Py_ssize_t nc = ocap * 2 > olen + len ? ocap * 2 : olen + len;
                if (nc > cap + 8192 && cap + 8192 >= olen + len)
                    nc = (Py_ssize_t)(cap + 8192);
                unsigned char *nb = (unsigned char *)realloc(out, (size_t)nc);
                if (!nb) {
                    PyErr_NoMemory();
                    goto done;
                }
                out = nb;
                ocap = nc;
            }
            for (int k = len - 1, c = ent; k >= 0; k--, c = tab[c].prefix)
                out[olen + k] = tab[c].last;
            olen += len;
            if (olen > cap) {
                res = PyUnicode_FromString("LZW output exceeds size limit");
                goto done;
            }
            prev = ent;
            if (tlen + early >= (1LL << width) && width < 12)
                width++;
        }
    }
finish:
    res = PyBytes_FromStringAndSize((const char *)out, olen);
done:
    free(tab);
    free(out);
    return res;
}

static PyObject *lzw_decode(PyObject *self, PyObject *args)
{
    Py_buffer buf;
    long long early, cap;
    if (!PyArg_ParseTuple(args, "y*LL", &buf, &early, &cap))
        return NULL;
    PyObject *res = lzw_run((const unsigned char *)buf.buf, buf.len, early,
                            cap);
    PyBuffer_Release(&buf);
    return res;
}

/* ======================================================================== */
/* Fonts and text decode.
 *
 * The per-font code table behind decode_native answers
 * Interpreter._decode for a run the memo missed; parse_cmap transcribes
 * cmap.CMap.parse (with tokenize_cmap) for the ToUnicode streams
 * fonts.extract_font_info reads.  Same rules as the skeleton: a complete
 * result or a bail, the Python functions stay the authority.
 *
 * parse_cmap answers BAIL (CMap.parse runs) for a CMap with usecmap or
 * cid sections.  The code table declines (Python decodes the run) for a
 * Type0 font without ToUnicode (the CJK / CID table chain), ToUnicode
 * codes of 3 or 4 bytes, composite fonts with /Widths or CID width
 * tables, and any run whose decode would meet the acceptance gate or a
 * sanitize trigger. */

static void install_global(PyObject **slot, PyObject *value); /* below */

static PyObject *g_cmap_cls;      /* cmap.CMap; set last by setup_fonts */
static PyObject *g_glyph_uni;     /* encodings.glyph_name_to_unicode */
static Py_UCS4 g_winansi[256], g_macroman[256];
/* the Standard-14 width tables (afm_widths.TABLES), the code-table row
 * each gives over codes 0-255, and the whole code table of a simple font
 * on it without /Differences or ToUnicode, per base encoding (identity,
 * WinAnsi, MacRoman; built on first use): constants derived from
 * constants */
#define AFM_MAX 16
struct CodeTable_;
static struct {
    PyObject *table;
    double w[256];
    struct CodeTable_ *ct[3];
} g_afm[AFM_MAX];
static int g_n_afm;
static PyObject *f_name, *f_font_type, *f_encoding, *f_to_unicode,
    *f_differences, *f_descendant_font, *f_first_char, *f_last_char,
    *f_widths, *f_missing_width, *f_cid_widths, *f_code_table, *f_fonts,
    *m_cmap_type, *m_wmode, *m_codespace_ranges, *m_ranges, *m_single,
    *m_inherited_predefined;

static int str_is(PyObject *s, const char *lit)
{
    return s && PyUnicode_Check(s) &&
           PyUnicode_CompareWithASCIIString(s, lit) == 0;
}

/* float(v) for an int or float: 1 = *out, 0 = neither, -1 = overflow */
static int num_double(PyObject *v, double *out)
{
    if (PyFloat_Check(v)) {
        *out = PyFloat_AS_DOUBLE(v);
        return 1;
    }
    if (PyLong_Check(v)) {
        double d = PyLong_AsDouble(v);
        if (d == -1.0 && PyErr_Occurred()) {
            PyErr_Clear();
            return -1;
        }
        *out = d;
        return 1;
    }
    return 0;
}

/* bytes ordering (memcmp, then the shorter first) */
static int lexcmp(const unsigned char *a, Py_ssize_t an,
                  const unsigned char *b, Py_ssize_t bn)
{
    int r = memcmp(a, b, (size_t)(an < bn ? an : bn));
    if (r)
        return r;
    return an < bn ? -1 : an > bn;
}

/* ---- code table -------------------------------------------------------- */

typedef struct {
    unsigned code;
    PyObject *uni; /* owned str; NULL = the CMap maps the code to None */
} CSingle;

typedef struct {
    PyObject *lo, *hi, *dst; /* owned bytes */
} CRange;

typedef struct CodeTable_ {
    int cmap;      /* 1: ToUnicode CMap walk, 0: byte encoding */
    int composite; /* width 0.5 per decoded char, else w[code] per byte */
    double w[256]; /* widths[code - first] / 1000.0, or missing / 1000.0 */
    Py_UCS4 u[256];       /* byte encoding: the char of each code */
    PyObject *u1[256];    /* CMap: 1-byte codes (owned str, NULL = None) */
    CSingle *s2;          /* CMap: 2-byte single mappings, by code */
    Py_ssize_t n2;
    CRange *r2;           /* CMap: ranges over 2-byte codes, in order */
    Py_ssize_t nr2;
} CodeTable;

static const char CT_CAPSULE[] = "oxpdf_cscan.CodeTable";

static void ct_free(CodeTable *t)
{
    if (!t)
        return;
    for (int b = 0; b < 256; b++)
        Py_XDECREF(t->u1[b]);
    for (Py_ssize_t k = 0; k < t->n2; k++)
        Py_XDECREF(t->s2[k].uni);
    for (Py_ssize_t k = 0; k < t->nr2; k++) {
        Py_DECREF(t->r2[k].lo);
        Py_DECREF(t->r2[k].hi);
        Py_DECREF(t->r2[k].dst);
    }
    PyMem_Free(t->s2);
    PyMem_Free(t->r2);
    PyMem_Free(t);
}

static void ct_capsule_free(PyObject *cap)
{
    ct_free((CodeTable *)PyCapsule_GetPointer(cap, CT_CAPSULE));
}

/* CMap.to_unicode on a ToUnicode CMap: UTF-16BE for an even length, else
 * UTF-8.  New str, or NULL without an exception for None. */
static PyObject *cm_to_uni(const char *s, Py_ssize_t n)
{
    PyObject *r;
    if (n % 2 == 0) {
        int bo = 1;
        r = PyUnicode_DecodeUTF16(s, n, "strict", &bo);
    } else
        r = PyUnicode_DecodeUTF8(s, n, "strict");
    if (!r && PyErr_ExceptionMatches(PyExc_UnicodeDecodeError))
        PyErr_Clear();
    return r;
}

/* CMap.map's range arm then to_unicode: dst + (code - lo) big-endian,
 * wrapping at the dst width */
static PyObject *cm_range_uni(PyObject *lo, PyObject *dst, unsigned code)
{
    const unsigned char *l = (const unsigned char *)PyBytes_AS_STRING(lo);
    unsigned lov = PyBytes_GET_SIZE(lo) == 1 ? l[0] : (l[0] << 8) | l[1];
    unsigned long carry = code - lov;
    Py_ssize_t w = PyBytes_GET_SIZE(dst);
    unsigned char stackbuf[64];
    unsigned char *b = w <= 64 ? stackbuf : PyMem_Malloc((size_t)w);
    if (!b)
        return PyErr_NoMemory();
    memcpy(b, PyBytes_AS_STRING(dst), (size_t)w);
    for (Py_ssize_t k = w - 1; k >= 0 && carry; k--) {
        unsigned long s = b[k] + (carry & 0xFF);
        b[k] = (unsigned char)(s & 0xFF);
        carry = (carry >> 8) + (s >> 8);
    }
    PyObject *r = cm_to_uni((const char *)b, w);
    if (b != stackbuf)
        PyMem_Free(b);
    return r;
}

static int cs_cmp(const void *a, const void *b)
{
    unsigned x = ((const CSingle *)a)->code, y = ((const CSingle *)b)->code;
    return x < y ? -1 : x > y;
}

/* the CMap half of the table: 1 built, 0 decline, -1 exception */
static int ct_fill_cmap(CodeTable *t, PyObject *cm)
{
    PyObject *single = NULL, *ranges = NULL, *ctype = NULL, *inh = NULL;
    PyObject *one[256];
    CRange *r1 = NULL;
    Py_ssize_t nr1 = 0;
    int rc = 0;
    memset(one, 0, sizeof(one));
    ctype = PyObject_GetAttr(cm, m_cmap_type);
    inh = ctype ? PyObject_GetAttr(cm, m_inherited_predefined) : NULL;
    single = inh ? PyObject_GetAttr(cm, m_single) : NULL;
    ranges = single ? PyObject_GetAttr(cm, m_ranges) : NULL;
    if (!ranges) {
        rc = -1;
        goto done;
    }
    if (!str_is(ctype, "ToUnicode") || inh != Py_None ||
        !PyDict_CheckExact(single) || !PyList_CheckExact(ranges))
        goto done;
    {
        Py_ssize_t pos = 0;
        PyObject *k, *v;
        size_t ns = (size_t)PyDict_GET_SIZE(single) + 1;
        t->s2 = PyMem_Malloc(sizeof(CSingle) * ns);
        if (!t->s2) {
            PyErr_NoMemory();
            rc = -1;
            goto done;
        }
        while (PyDict_Next(single, &pos, &k, &v)) {
            if (!PyBytes_Check(k) || !PyBytes_Check(v))
                goto done;
            const unsigned char *kp =
                (const unsigned char *)PyBytes_AS_STRING(k);
            Py_ssize_t kl = PyBytes_GET_SIZE(k);
            if (kl == 1)
                one[kp[0]] = v;
            else if (kl == 2) {
                PyObject *u =
                    cm_to_uni(PyBytes_AS_STRING(v), PyBytes_GET_SIZE(v));
                if (!u && PyErr_Occurred()) {
                    rc = -1;
                    goto done;
                }
                t->s2[t->n2].code = (kp[0] << 8) | kp[1];
                t->s2[t->n2].uni = u;
                t->n2++;
            } else if (kl == 3 || kl == 4)
                goto done;
        }
        qsort(t->s2, (size_t)t->n2, sizeof(CSingle), cs_cmp);
    }
    {
        Py_ssize_t nr = PyList_GET_SIZE(ranges);
        r1 = PyMem_Malloc(sizeof(CRange) * (size_t)(nr + 1));
        t->r2 = PyMem_Malloc(sizeof(CRange) * (size_t)(nr + 1));
        if (!r1 || !t->r2) {
            PyErr_NoMemory();
            rc = -1;
            goto done;
        }
        for (Py_ssize_t k = 0; k < nr; k++) {
            PyObject *tup = PyList_GET_ITEM(ranges, k);
            if (!PyTuple_Check(tup) || PyTuple_GET_SIZE(tup) != 3)
                goto done;
            PyObject *lo = PyTuple_GET_ITEM(tup, 0),
                     *hi = PyTuple_GET_ITEM(tup, 1),
                     *dst = PyTuple_GET_ITEM(tup, 2);
            if (!PyBytes_Check(lo) || !PyBytes_Check(hi) ||
                !PyBytes_Check(dst))
                goto done;
            Py_ssize_t ll = PyBytes_GET_SIZE(lo);
            CRange cr = {lo, hi, dst};
            if (ll == 1)
                r1[nr1++] = cr;
            else if (ll == 2) {
                Py_INCREF(lo);
                Py_INCREF(hi);
                Py_INCREF(dst);
                t->r2[t->nr2++] = cr;
            } else if (ll == 3 || ll == 4)
                goto done;
        }
    }
    for (int b = 0; b < 256; b++) {
        unsigned char code = (unsigned char)b;
        PyObject *u = NULL;
        if (one[b])
            u = cm_to_uni(PyBytes_AS_STRING(one[b]),
                          PyBytes_GET_SIZE(one[b]));
        else {
            for (Py_ssize_t k = 0; k < nr1; k++) {
                const unsigned char *lo =
                    (const unsigned char *)PyBytes_AS_STRING(r1[k].lo);
                const unsigned char *hi =
                    (const unsigned char *)PyBytes_AS_STRING(r1[k].hi);
                if (lexcmp(lo, 1, &code, 1) <= 0 &&
                    lexcmp(&code, 1, hi, PyBytes_GET_SIZE(r1[k].hi)) <= 0) {
                    u = cm_range_uni(r1[k].lo, r1[k].dst, code);
                    break;
                }
            }
        }
        if (!u && PyErr_Occurred()) {
            rc = -1;
            goto done;
        }
        t->u1[b] = u;
    }
    t->cmap = 1;
    rc = 1;
done:
    PyMem_Free(r1);
    Py_XDECREF(ctype);
    Py_XDECREF(inh);
    Py_XDECREF(single);
    Py_XDECREF(ranges);
    return rc;
}

/* the byte-encoding half (fonts._decode_with_encoding's table): 1 / 0 / -1 */
static int ct_fill_encoding(CodeTable *t, PyObject *enc, PyObject *diffs)
{
    const Py_UCS4 *base = NULL;
    if (str_is(enc, "WinAnsiEncoding"))
        base = g_winansi;
    else if (str_is(enc, "MacRomanEncoding"))
        base = g_macroman;
    for (int b = 0; b < 256; b++)
        t->u[b] = base ? base[b] : (Py_UCS4)b;
    if (diffs == Py_None)
        return 1;
    if (!PyDict_Check(diffs))
        return 0;
    Py_ssize_t pos = 0;
    PyObject *k, *v;
    while (PyDict_Next(diffs, &pos, &k, &v)) {
        if (!PyLong_Check(k))
            continue;
        int ovf;
        long long code = PyLong_AsLongLongAndOverflow(k, &ovf);
        if (code == -1 && PyErr_Occurred())
            return -1;
        if (ovf || code < 0 || code > 255)
            continue;
        PyObject *u = PyObject_CallOneArg(g_glyph_uni, v);
        if (!u)
            return -1;
        if (u != Py_None) {
            if (!PyUnicode_Check(u) || PyUnicode_GET_LENGTH(u) != 1) {
                Py_DECREF(u);
                return 0;
            }
            t->u[code] = PyUnicode_READ_CHAR(u, 0);
        }
        Py_DECREF(u);
    }
    return 1;
}

/* per-code widths of a simple font (calculate_text_width_from_codes at
 * font_size 1): 1 / 0 / -1 */
static int ct_fill_widths(CodeTable *t, PyObject *widths, PyObject *fc,
                          PyObject *lc, PyObject *missing)
{
    if (widths == Py_None) {
        for (int b = 0; b < 256; b++)
            t->w[b] = 0.5;
        return 1;
    }
    long long first = 0, last = 255;
    int ovf = 0;
    if (fc != Py_None) {
        if (!PyLong_Check(fc))
            return 0;
        first = PyLong_AsLongLongAndOverflow(fc, &ovf);
        if (ovf || (first == -1 && PyErr_Occurred()))
            return PyErr_Occurred() ? -1 : 0;
    }
    if (lc != Py_None) {
        if (!PyLong_Check(lc))
            return 0;
        last = PyLong_AsLongLongAndOverflow(lc, &ovf);
        if (ovf || (last == -1 && PyErr_Occurred()))
            return PyErr_Occurred() ? -1 : 0;
    }
    double miss;
    if (num_double(missing, &miss) != 1)
        return 0;
    if (!PyList_Check(widths) && !PyTuple_Check(widths))
        return 0;
    /* extract_font_info shares a Standard-14 table as the widths of a font
     * without /Widths, with first 0 and last 255: the row is fixed */
    if (first == 0 && last == 255)
        for (int k = 0; k < g_n_afm; k++)
            if (widths == g_afm[k].table) {
                memcpy(t->w, g_afm[k].w, sizeof(t->w));
                return 1;
            }
    Py_ssize_t nw = PySequence_Fast_GET_SIZE(widths);
    PyObject **items = PySequence_Fast_ITEMS(widths);
    for (int b = 0; b < 256; b++) {
        double w = miss;
        if (first <= b && b <= last && b - first < nw) {
            if (num_double(items[b - first], &w) != 1)
                return 0;
        }
        t->w[b] = w / 1000.0;
    }
    return 1;
}

/* the shared table of a simple font whose widths are Standard-14 table k
 * over codes 0-255 (first_char 0, last_char 255, a numeric missing width,
 * which no code reaches), or NULL */
static CodeTable *afm_table(PyObject *widths, PyObject *fc, PyObject *lc,
                            PyObject *missing, PyObject *enc)
{
    double miss;
    int ovf;
    if (!PyLong_Check(fc) || !PyLong_Check(lc) ||
        PyLong_AsLongLongAndOverflow(fc, &ovf) != 0 || ovf ||
        PyLong_AsLongLongAndOverflow(lc, &ovf) != 255 || ovf ||
        num_double(missing, &miss) != 1)
        return NULL;
    for (int k = 0; k < g_n_afm; k++) {
        if (widths != g_afm[k].table)
            continue;
        int e = str_is(enc, "WinAnsiEncoding")    ? 1
                : str_is(enc, "MacRomanEncoding") ? 2
                                                  : 0;
        if (!g_afm[k].ct[e]) {
            CodeTable *t = PyMem_RawCalloc(1, sizeof(CodeTable));
            if (!t)
                return NULL;
            const Py_UCS4 *base = e == 1 ? g_winansi : e == 2 ? g_macroman
                                                             : NULL;
            for (int b = 0; b < 256; b++) {
                t->w[b] = g_afm[k].w[b];
                t->u[b] = base ? base[b] : (Py_UCS4)b;
            }
            g_afm[k].ct[e] = t;
        }
        return g_afm[k].ct[e];
    }
    return NULL;
}

/* a code table for one FontInfo: 1 = *out, 2 = *out is a shared constant
 * (afm_table), 0 = decline, -1 = exception */
static int ct_build(PyObject *info, CodeTable **out)
{
    PyObject *v[9];
    PyObject *const names[9] = {f_font_type, f_descendant_font, f_to_unicode,
                                f_widths, f_first_char, f_last_char,
                                f_missing_width, f_encoding, f_differences};
    int rc = 0;
    memset(v, 0, sizeof(v));
    for (int k = 0; k < 9; k++) {
        v[k] = PyObject_GetAttr(info, names[k]);
        if (!v[k]) {
            rc = -1;
            goto done;
        }
    }
    PyObject *ftype = v[0], *desc = v[1], *tu = v[2], *widths = v[3];
    if (!PyUnicode_Check(ftype))
        goto done;
    int type0 = str_is(ftype, "Type0");
    if (!type0 && desc == Py_None && tu == Py_None && v[8] == Py_None &&
        (*out = afm_table(widths, v[4], v[5], v[6], v[7]))) {
        rc = 2;
        goto done;
    }
    CodeTable *t = PyMem_Calloc(1, sizeof(CodeTable));
    if (!t) {
        PyErr_NoMemory();
        rc = -1;
        goto done;
    }
    t->composite = type0 || desc != Py_None;
    if (t->composite) {
        /* calculate_text_width_from_codes: char-indexed /Widths and CID
         * width tables stay in Python; else 0.5 per decoded char */
        if (widths != Py_None)
            goto decline;
        if (desc != Py_None) {
            PyObject *cw = PyObject_GetAttr(desc, f_cid_widths);
            if (!cw)
                goto fail;
            int has = cw != Py_None;
            Py_DECREF(cw);
            if (has)
                goto decline;
        }
    } else {
        rc = ct_fill_widths(t, widths, v[4], v[5], v[6]);
        if (rc <= 0)
            goto fail_or_decline;
    }
    if (tu != Py_None) {
        if (!PyObject_TypeCheck(tu, (PyTypeObject *)g_cmap_cls))
            goto decline;
        rc = ct_fill_cmap(t, tu);
    } else if (type0 && desc != Py_None)
        goto decline; /* the CJK / CID-collection chain */
    else
        rc = ct_fill_encoding(t, v[7], v[8]);
    if (rc <= 0)
        goto fail_or_decline;
    *out = t;
    rc = 1;
    goto done;
fail_or_decline:
    if (rc < 0)
        goto fail;
decline:
    rc = 0;
    ct_free(t);
    goto done;
fail:
    rc = -1;
    ct_free(t);
done:
    for (int k = 0; k < 9; k++)
        Py_XDECREF(v[k]);
    return rc;
}

typedef struct {
    Py_UCS4 *buf;
    Py_ssize_t len, cap;
} UBuf;

static int ub_put(UBuf *u, PyObject *s)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    if (u->len + n > u->cap) {
        Py_ssize_t cap = (u->len + n) * 2 + 16;
        Py_UCS4 *nb = PyMem_Realloc(u->buf, sizeof(Py_UCS4) * (size_t)cap);
        if (!nb) {
            PyErr_NoMemory();
            return -1;
        }
        u->buf = nb;
        u->cap = cap;
    }
    int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    for (Py_ssize_t k = 0; k < n; k++)
        u->buf[u->len++] = PyUnicode_READ(kind, data, k);
    return 0;
}

/* a 2-byte code through the CMap: new str, or NULL (None / exception) */
static PyObject *ct_lookup2(CodeTable *t, unsigned code)
{
    Py_ssize_t lo = 0, hi = t->n2;
    while (lo < hi) {
        Py_ssize_t mid = (lo + hi) / 2;
        if (t->s2[mid].code < code)
            lo = mid + 1;
        else
            hi = mid;
    }
    if (lo < t->n2 && t->s2[lo].code == code) {
        Py_XINCREF(t->s2[lo].uni);
        return t->s2[lo].uni;
    }
    unsigned char cb[2] = {(unsigned char)(code >> 8), (unsigned char)code};
    for (Py_ssize_t k = 0; k < t->nr2; k++) {
        CRange *r = &t->r2[k];
        const unsigned char *lo =
            (const unsigned char *)PyBytes_AS_STRING(r->lo);
        const unsigned char *hi =
            (const unsigned char *)PyBytes_AS_STRING(r->hi);
        if (lexcmp(lo, 2, cb, 2) <= 0 &&
            lexcmp(cb, 2, hi, PyBytes_GET_SIZE(r->hi)) <= 0)
            return cm_range_uni(r->lo, r->dst, code);
    }
    return NULL;
}

/* one run through the table: the decoded str with *w1, or NULL without an
 * exception where decode_text would reject, rewrite or fall back */
static PyObject *ct_decode(CodeTable *t, const unsigned char *p,
                           Py_ssize_t n, double *w1)
{
    UBuf u = {NULL, 0, 0};
    PyObject *res = NULL;
    u.cap = n + 16;
    u.buf = PyMem_Malloc(sizeof(Py_UCS4) * (size_t)u.cap);
    if (!u.buf)
        return PyErr_NoMemory();
    if (t->cmap) {
        /* decode_with_cmap's walk: with only 1- and 2-byte codes mapped,
         * a 1-byte hit wins, then a 2-byte one, else skip one byte */
        Py_ssize_t i = 0;
        while (i < n) {
            PyObject *s = t->u1[p[i]];
            if (s) {
                if (ub_put(&u, s) < 0)
                    goto done;
                i++;
                continue;
            }
            if (n - i >= 2) {
                s = ct_lookup2(t, ((unsigned)p[i] << 8) | p[i + 1]);
                if (s) {
                    int r = ub_put(&u, s);
                    Py_DECREF(s);
                    if (r < 0)
                        goto done;
                    i += 2;
                    continue;
                }
                if (PyErr_Occurred())
                    goto done;
            }
            i++;
        }
    } else {
        for (Py_ssize_t i = 0; i < n; i++)
            u.buf[u.len++] = t->u[p[i]];
    }
    /* decode_text's gate (non-blank, not all control) and the
     * sanitize_extracted_text triggers: any of them -> Python */
    if (u.len == 0)
        goto done;
    int blank = 1;
    for (Py_ssize_t k = 0; k < u.len; k++) {
        Py_UCS4 ch = u.buf[k];
        if ((ch < 0x20 && ch != '\t' && ch != '\n' && ch != '\r') ||
            ch == 0x7F)
            goto done;
        if ((ch == ' ' || ch == '\t') && k + 1 < u.len && u.buf[k + 1] == ' ')
            goto done;
        if (blank && !Py_UNICODE_ISSPACE(ch))
            blank = 0;
    }
    if (blank)
        goto done;
    if (t->composite)
        *w1 = (double)u.len * 0.5;
    else {
        double total = 0.0;
        for (Py_ssize_t i = 0; i < n; i++)
            total += t->w[p[i]];
        *w1 = total;
    }
    res = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, u.buf, u.len);
done:
    PyMem_Free(u.buf);
    return res;
}

/* Interpreter._decode for a memo miss, natively: the (decoded, w1) pair
 * stored in the run memo, or NULL without an exception when the Python
 * method must decide (no font, no table, a gated run) */
static PyObject *decode_native(Ctx *c, PyObject *key)
{
    if (!g_cmap_cls || !PyBytes_Check(key))
        return NULL;
    PyObject *fname = NULL, *fonts = NULL, *info = NULL, *tbl = NULL,
             *hit = NULL;
    if (c->native) {
        info = c->cur_info;
    } else {
        fname = PyObject_GetAttr(c->st, a_font_name);
        if (!fname)
            return NULL;
        if (!PyUnicode_Check(fname) || PyUnicode_GET_LENGTH(fname) == 0)
            goto done;
        fonts = PyObject_GetAttr(c->interp, f_fonts);
        if (!fonts || !PyDict_Check(fonts))
            goto done;
        info = PyDict_GetItemWithError(fonts, fname);
    }
    if (!info)
        goto done;
    Py_INCREF(info);
    tbl = PyObject_GetAttr(info, f_code_table);
    if (!tbl) {
        if (PyErr_ExceptionMatches(PyExc_AttributeError))
            PyErr_Clear(); /* a font object without the slot */
        goto done;
    }
    if (tbl == Py_None) {
        CodeTable *t = NULL;
        int rc = ct_build(info, &t);
        if (rc < 0)
            goto done;
        Py_DECREF(tbl);
        if (rc == 0) {
            tbl = Py_False;
            Py_INCREF(tbl);
        } else {
            tbl = PyCapsule_New(t, CT_CAPSULE,
                                rc == 2 ? NULL : ct_capsule_free);
            if (!tbl) {
                if (rc == 1)
                    ct_free(t);
                goto done;
            }
        }
        if (PyObject_SetAttr(info, f_code_table, tbl) < 0)
            PyErr_Clear(); /* no slot to keep it in: decode this run only */
    }
    if (!PyCapsule_IsValid(tbl, CT_CAPSULE))
        goto done;
    CodeTable *t = PyCapsule_GetPointer(tbl, CT_CAPSULE);
    double w1 = 0.0;
    PyObject *decoded =
        ct_decode(t, (const unsigned char *)PyBytes_AS_STRING(key),
                  PyBytes_GET_SIZE(key), &w1);
    if (!decoded)
        goto done;
    hit = Py_BuildValue("(Nd)", decoded, w1);
    if (hit && PyDict_SetItem(c->font_memo, key, hit) < 0)
        Py_CLEAR(hit);
done:
    Py_XDECREF(fname);
    Py_XDECREF(fonts);
    Py_XDECREF(info);
    Py_XDECREF(tbl);
    return hit;
}

/* ---- CMap parse (cmap.tokenize_cmap + CMap.parse) ---------------------- */

enum { CT_HEX, CT_ARR, CT_NAME, CT_INT, CT_KW };

typedef struct {
    unsigned char kind;
    Py_ssize_t a, b; /* HEX: arena offset/length; ARR: harr first/count;
                      * NAME/KW: data offset/length */
    int imod;        /* INT: the value & 0xFF */
} CTok;

typedef struct {
    Py_ssize_t off, len;
} HRef;

typedef struct {
    const unsigned char *d;
    Py_ssize_t n;
    CTok *toks;
    Py_ssize_t nt, capt;
    HRef *harr;
    Py_ssize_t nh, caph;
    unsigned char *arena;
    Py_ssize_t na;
} CmLex;

static int cm_ws(unsigned char ch)
{
    return ch == 0 || ch == '\t' || ch == '\n' || ch == '\f' || ch == '\r' ||
           ch == ' ';
}

static int cm_delim(unsigned char ch)
{
    return cm_ws(ch) || ch == '(' || ch == ')' || ch == '<' || ch == '>' ||
           ch == '[' || ch == ']' || ch == '{' || ch == '}' || ch == '/' ||
           ch == '%';
}

static int cm_push(CmLex *L, CTok t)
{
    if (L->nt == L->capt) {
        Py_ssize_t cap = L->capt * 2 + 64;
        CTok *nt = PyMem_Realloc(L->toks, sizeof(CTok) * (size_t)cap);
        if (!nt) {
            PyErr_NoMemory();
            return -1;
        }
        L->toks = nt;
        L->capt = cap;
    }
    L->toks[L->nt++] = t;
    return 0;
}

static int cm_push_h(CmLex *L, HRef h)
{
    if (L->nh == L->caph) {
        Py_ssize_t cap = L->caph * 2 + 64;
        HRef *nh = PyMem_Realloc(L->harr, sizeof(HRef) * (size_t)cap);
        if (!nh) {
            PyErr_NoMemory();
            return -1;
        }
        L->harr = nh;
        L->caph = cap;
    }
    L->harr[L->nh++] = h;
    return 0;
}

/* tokenize_cmap: 0 ok, -1 exception */
static int cm_tokenize(CmLex *L)
{
    const unsigned char *d = L->d;
    Py_ssize_t n = L->n, pos = 0, arr_start = -1;
    L->arena = PyMem_Malloc((size_t)(n / 2 + 1));
    if (!L->arena) {
        PyErr_NoMemory();
        return -1;
    }
    while (pos < n) {
        unsigned char ch = d[pos];
        if (cm_ws(ch) || ch == '%') {
            while (pos < n) {
                if (cm_ws(d[pos]))
                    pos++;
                else if (d[pos] == '%') {
                    while (pos < n && d[pos] != '\n')
                        pos++;
                } else
                    break;
            }
            continue;
        }
        if ((ch == '<' || ch == '>') && pos + 1 < n && d[pos + 1] == ch) {
            pos += 2; /* << >> */
            continue;
        }
        if (ch == '<') {
            Py_ssize_t q = pos + 1, digits = 0;
            while (q < n && (hex_digit(d[q]) >= 0 || cm_ws(d[q]))) {
                digits += hex_digit(d[q]) >= 0;
                q++;
            }
            if (q < n && d[q] == '>') {
                if (digits % 2 == 0) {
                    HRef h = {L->na, digits / 2};
                    int hi = -1;
                    for (Py_ssize_t k = pos + 1; k < q; k++) {
                        int v = hex_digit(d[k]);
                        if (v < 0)
                            continue;
                        if (hi < 0)
                            hi = v;
                        else {
                            L->arena[L->na++] = (unsigned char)((hi << 4) | v);
                            hi = -1;
                        }
                    }
                    if (arr_start >= 0) {
                        if (cm_push_h(L, h) < 0)
                            return -1;
                    } else {
                        CTok t = {CT_HEX, h.off, h.len, 0};
                        if (cm_push(L, t) < 0)
                            return -1;
                    }
                }
                pos = q + 1;
                continue;
            }
            pos++; /* a lone '<' */
            continue;
        }
        if (ch == '[') {
            arr_start = L->nh;
            pos++;
            continue;
        }
        if (ch == ']') {
            if (arr_start >= 0) {
                CTok t = {CT_ARR, arr_start, L->nh - arr_start, 0};
                if (cm_push(L, t) < 0)
                    return -1;
                arr_start = -1;
            }
            pos++;
            continue;
        }
        if (ch == '/') {
            Py_ssize_t q = pos + 1;
            while (q < n && !cm_delim(d[q]))
                q++;
            CTok t = {CT_NAME, pos + 1, q - pos - 1, 0};
            if (cm_push(L, t) < 0)
                return -1;
            pos = q;
            continue;
        }
        if (cm_delim(ch)) {
            pos++; /* ( ) { } > : no token */
            continue;
        }
        {
            /* [+-]?\d+(?![.\d]) else a keyword run */
            Py_ssize_t q = pos;
            if (d[q] == '+' || d[q] == '-')
                q++;
            Py_ssize_t ds = q;
            unsigned mod = 0;
            while (q < n && d[q] >= '0' && d[q] <= '9') {
                mod = (mod * 10 + (unsigned)(d[q] - '0')) & 0xFF;
                q++;
            }
            if (q > ds && !(q < n && d[q] == '.')) {
                int m = (int)mod;
                if (d[pos] == '-')
                    m = (256 - m) & 0xFF;
                CTok t = {CT_INT, pos, q - pos, m};
                if (cm_push(L, t) < 0)
                    return -1;
                pos = q;
                continue;
            }
            q = pos;
            while (q < n && !cm_delim(d[q]))
                q++;
            CTok t = {CT_KW, pos, q - pos, 0};
            if (cm_push(L, t) < 0)
                return -1;
            pos = q;
        }
    }
    return 0;
}

static int tok_is(CmLex *L, Py_ssize_t i, int kind, const char *lit)
{
    if (i >= L->nt || L->toks[i].kind != kind)
        return 0;
    size_t m = strlen(lit);
    return (size_t)L->toks[i].b == m &&
           memcmp(L->d + L->toks[i].a, lit, m) == 0;
}

static PyObject *cm_hex(CmLex *L, Py_ssize_t off, Py_ssize_t len)
{
    return PyBytes_FromStringAndSize((const char *)L->arena + off, len);
}

static int cm_set_item(PyObject *dict, CmLex *L, HRef k, HRef v)
{
    PyObject *kb = cm_hex(L, k.off, k.len);
    PyObject *vb = kb ? cm_hex(L, v.off, v.len) : NULL;
    int r = vb ? PyDict_SetItem(dict, kb, vb) : -1;
    Py_XDECREF(kb);
    Py_XDECREF(vb);
    return r;
}

/* CMap.parse over a CMap stream's bytes: a new CMap, BAIL (usecmap, cid
 * sections), or NULL with an exception */
static PyObject *cm_parse(const unsigned char *d, Py_ssize_t n)
{
    CmLex L;
    memset(&L, 0, sizeof(L));
    L.d = d;
    L.n = n;
    PyObject *cm = NULL, *name = NULL, *wmode = NULL, *cs = NULL,
             *ranges = NULL, *single = NULL, *res = NULL;
    unsigned char *cur = NULL;
    if (cm_tokenize(&L) < 0)
        goto done;
    cs = PyList_New(0);
    ranges = PyList_New(0);
    single = PyDict_New();
    if (!cs || !ranges || !single)
        goto done;
    CTok *T = L.toks;
    Py_ssize_t i = 0, nt = L.nt;
    while (i < nt) {
        if (tok_is(&L, i, CT_NAME, "CMapName")) {
            if (i + 1 < nt && T[i + 1].kind == CT_NAME) {
                Py_XDECREF(name);
                name = PyUnicode_DecodeLatin1((const char *)d + T[i + 1].a,
                                              T[i + 1].b, NULL);
                if (!name)
                    goto done;
                i += 2;
                continue;
            }
        } else if (tok_is(&L, i, CT_KW, "usecmap") ||
                   tok_is(&L, i, CT_KW, "begincidchar") ||
                   tok_is(&L, i, CT_KW, "begincidrange") ||
                   tok_is(&L, i, CT_KW, "beginnotdefrange")) {
            res = g_bail;
            Py_INCREF(res);
            goto done;
        } else if (tok_is(&L, i, CT_NAME, "WMode")) {
            if (i + 1 < nt && T[i + 1].kind == CT_INT) {
                Py_XDECREF(wmode);
                wmode = PyLong_FromLong(T[i + 1].imod);
                if (!wmode)
                    goto done;
                i += 2;
                continue;
            }
        } else if (tok_is(&L, i, CT_KW, "begincodespacerange") ||
                   tok_is(&L, i, CT_KW, "beginbfchar")) {
            int is_cs = T[i].b == 19;
            const char *end = is_cs ? "endcodespacerange" : "endbfchar";
            i++;
            while (i < nt) {
                if (tok_is(&L, i, CT_KW, end))
                    break;
                if (T[i].kind == CT_HEX && i + 1 < nt &&
                    T[i + 1].kind == CT_HEX) {
                    HRef a = {T[i].a, T[i].b}, b = {T[i + 1].a, T[i + 1].b};
                    if (is_cs) {
                        PyObject *tup =
                            Py_BuildValue("(y#y#)", L.arena + a.off, a.len,
                                          L.arena + b.off, b.len);
                        if (!tup || PyList_Append(cs, tup) < 0) {
                            Py_XDECREF(tup);
                            goto done;
                        }
                        Py_DECREF(tup);
                    } else if (cm_set_item(single, &L, a, b) < 0)
                        goto done;
                    i += 2;
                    continue;
                }
                i++;
            }
        } else if (tok_is(&L, i, CT_KW, "beginbfrange")) {
            i++;
            while (i < nt) {
                if (tok_is(&L, i, CT_KW, "endbfrange"))
                    break;
                if (T[i].kind == CT_HEX && i + 2 < nt &&
                    T[i + 1].kind == CT_HEX) {
                    HRef s = {T[i].a, T[i].b}, e = {T[i + 1].a, T[i + 1].b};
                    CTok *dt = &T[i + 2];
                    if (dt->kind == CT_HEX) {
                        PyObject *tup = Py_BuildValue(
                            "(y#y#y#)", L.arena + s.off, s.len,
                            L.arena + e.off, e.len, L.arena + dt->a, dt->b);
                        if (!tup || PyList_Append(ranges, tup) < 0) {
                            Py_XDECREF(tup);
                            goto done;
                        }
                        Py_DECREF(tup);
                        i += 3;
                        continue;
                    }
                    if (dt->kind == CT_ARR) {
                        /* array form: consecutive codes from src_start,
                         * stopping at src_end; the code wraps at its width */
                        PyMem_Free(cur);
                        cur = PyMem_Malloc((size_t)s.len + 1);
                        if (!cur) {
                            PyErr_NoMemory();
                            goto done;
                        }
                        memcpy(cur, L.arena + s.off, (size_t)s.len);
                        for (Py_ssize_t k = 0; k < dt->b; k++) {
                            HRef dv = L.harr[dt->a + k];
                            PyObject *kb = PyBytes_FromStringAndSize(
                                (const char *)cur, s.len);
                            PyObject *vb =
                                kb ? cm_hex(&L, dv.off, dv.len) : NULL;
                            int r = vb ? PyDict_SetItem(single, kb, vb) : -1;
                            Py_XDECREF(kb);
                            Py_XDECREF(vb);
                            if (r < 0)
                                goto done;
                            if (lexcmp(cur, s.len, L.arena + e.off,
                                       e.len) >= 0)
                                break;
                            for (Py_ssize_t q = s.len - 1; q >= 0; q--) {
                                if (cur[q] == 0xFF)
                                    cur[q] = 0;
                                else {
                                    cur[q]++;
                                    break;
                                }
                            }
                        }
                        i += 3;
                        continue;
                    }
                }
                i++;
            }
        }
        i++;
    }
    cm = PyObject_CallNoArgs(g_cmap_cls);
    if (!cm)
        goto done;
    if ((name && PyObject_SetAttr(cm, f_name, name) < 0) ||
        (wmode && PyObject_SetAttr(cm, m_wmode, wmode) < 0) ||
        PyObject_SetAttr(cm, m_codespace_ranges, cs) < 0 ||
        PyObject_SetAttr(cm, m_ranges, ranges) < 0 ||
        PyObject_SetAttr(cm, m_single, single) < 0)
        goto done;
    res = cm;
    cm = NULL;
done:
    PyMem_Free(cur);
    PyMem_Free(L.toks);
    PyMem_Free(L.harr);
    PyMem_Free(L.arena);
    Py_XDECREF(cm);
    Py_XDECREF(name);
    Py_XDECREF(wmode);
    Py_XDECREF(cs);
    Py_XDECREF(ranges);
    Py_XDECREF(single);
    return res;
}

/* parse_cmap(data): CMap.parse(data), or BAIL (usecmap, cid sections,
 * data not bytes) = CMap.parse runs */
static PyObject *parse_cmap(PyObject *self, PyObject *data)
{
    if (!g_cmap_cls || !PyBytes_CheckExact(data)) {
        Py_INCREF(g_bail);
        return g_bail;
    }
    return cm_parse((const unsigned char *)PyBytes_AS_STRING(data),
                    PyBytes_GET_SIZE(data));
}

static PyObject *g_extract_font_info; /* fonts.extract_font_info */
static PyObject *g_fallback_enc;      /* fonts.fallback_encoding */

/* setup_fonts(CMap, glyph_name_to_unicode, winansi, macroman, afm_tables,
 * extract_font_info, fallback_encoding): winansi and macroman are the
 * 256-char base tables of those encodings, afm_tables the Standard-14
 * width tuples of 256 numbers each */
static PyObject *setup_fonts(PyObject *self, PyObject *args)
{
    PyObject *cm, *glyph, *win, *mac, *afm, *efi, *fbe;
    if (!PyArg_ParseTuple(args, "OOUUO!OO", &cm, &glyph, &win, &mac,
                          &PyTuple_Type, &afm, &efi, &fbe))
        return NULL;
    if (PyUnicode_GET_LENGTH(win) != 256 || PyUnicode_GET_LENGTH(mac) != 256) {
        PyErr_SetString(PyExc_ValueError, "base tables must have 256 chars");
        return NULL;
    }
    if (PyTuple_GET_SIZE(afm) > AFM_MAX) {
        PyErr_SetString(PyExc_ValueError, "too many width tables");
        return NULL;
    }
    for (Py_ssize_t k = 0; k < PyTuple_GET_SIZE(afm); k++) {
        PyObject *tbl = PyTuple_GET_ITEM(afm, k);
        if (!PyTuple_Check(tbl) || PyTuple_GET_SIZE(tbl) != 256) {
            PyErr_SetString(PyExc_ValueError,
                            "width tables must be 256-tuples");
            return NULL;
        }
        for (int b = 0; b < 256; b++) {
            double w;
            if (num_double(PyTuple_GET_ITEM(tbl, b), &w) != 1) {
                PyErr_SetString(PyExc_ValueError,
                                "width tables must hold numbers");
                return NULL;
            }
            g_afm[k].w[b] = w / 1000.0;
        }
    }
    /* a second setup: the shared tables FontInfos still hold stay alive */
    for (int k = 0; k < g_n_afm; k++) {
        Py_CLEAR(g_afm[k].table);
        memset(g_afm[k].ct, 0, sizeof(g_afm[k].ct));
    }
    g_n_afm = (int)PyTuple_GET_SIZE(afm);
    for (int k = 0; k < g_n_afm; k++) {
        g_afm[k].table = PyTuple_GET_ITEM(afm, k);
        Py_INCREF(g_afm[k].table);
    }
    for (Py_ssize_t b = 0; b < 256; b++) {
        g_winansi[b] = PyUnicode_READ_CHAR(win, b);
        g_macroman[b] = PyUnicode_READ_CHAR(mac, b);
    }
    install_global(&g_extract_font_info, efi);
    install_global(&g_fallback_enc, fbe);
    install_global(&g_glyph_uni, glyph);
    install_global(&g_cmap_cls, cm);
    Py_RETURN_NONE;
}

static void install_global(PyObject **slot, PyObject *value); /* below */

static PyObject *setup_html(PyObject *self, PyObject *args)
{
    PyObject *unescape, *boiler_value;
    if (!PyArg_ParseTuple(args, "OO", &unescape, &boiler_value))
        return NULL;
    install_global(&g_unescape, unescape);
    install_global(&g_boiler_value, boiler_value);
    Py_RETURN_NONE;
}

/* ======================================================================== */
/* The page loop: run_pages runs the pages of a document in one call, for
 * the extraction path that needs no positioned fragments (no layout,
 * emission order, no OCR).  Per page it does what extract.extract_pdf_bytes
 * does around the C steps: fonts.extract_page_fonts, pages.page_content,
 * Interpreter(...), parse_and_run and Interpreter.finalize, into the same
 * spans, page text and (empty) fragment list.  No Interpreter is built:
 * scan_content runs in native mode with the interpreter state in the Ctx,
 * and the run memo is the document's _span_decode_memo, keyed as
 * Interpreter._memo_for keys it.  A FontInfo cache miss calls the Python
 * fonts.extract_font_info and stores the result in reader._fontinfo_cache,
 * as extract_page_fonts does: the build stays in Python.
 *
 * Native here, beyond the show operators: Tf's run-memo switch, ' and ",
 * q/Q, marked content (BMC/BDC/EMC: the artifact gate, and the
 * /Properties fetches _op_bdc makes), image XObjects and inline images
 * (content._scan_bi finds the end of the image data).  A page bails to the
 * Python loop, which stays the authority, on an exception anywhere in it
 * (Python then records the page's error), a fetch get_object bails on, a
 * Form XObject, deep marked-content props, or a run the font's code table
 * declines (Interpreter._decode decodes it).  A document whose reader
 * get_object does not serve (encrypted) is not served at all.  A bail
 * writes none of the page's results; what it left in the reader's caches
 * (_cache, _fontinfo_cache, _span_decode_memo) is what the Python re-run
 * of the page puts there too. */

/* fonts.fallback_encoding's answers */
static PyObject *g_fb_win, *g_fb_mac, *g_fb_std, *g_fb_pdfdoc;
static PyObject *s_fontinfo_cache, *s_span_memo, *s_resources;
static PyObject *k_Font, *k_XObject, *k_Subtype, *k_Properties;

/* ASCII s[0:n], lower-cased, contains the lower-case pat */
static int ascii_lower_contains(const char *s, Py_ssize_t n, const char *pat)
{
    Py_ssize_t m = (Py_ssize_t)strlen(pat);
    for (Py_ssize_t i = 0; i + m <= n; i++) {
        Py_ssize_t k = 0;
        while (k < m) {
            unsigned char ch = (unsigned char)s[i + k];
            if (ch >= 'A' && ch <= 'Z')
                ch += 'a' - 'A';
            if (ch != (unsigned char)pat[k])
                break;
            k++;
        }
        if (k == m)
            return 1;
    }
    return 0;
}

static int ascii_starts(const char *s, Py_ssize_t n, const char *pat)
{
    Py_ssize_t m = (Py_ssize_t)strlen(pat);
    return n >= m && memcmp(s, pat, (size_t)m) == 0;
}

/* fonts.fallback_encoding(name) (new ref); Python's own str.lower decides
 * for a name that is not ASCII */
static PyObject *fallback_class(PyObject *name)
{
    if (!PyUnicode_IS_ASCII(name))
        return PyObject_CallOneArg(g_fallback_enc, name);
    Py_ssize_t n = PyUnicode_GET_LENGTH(name);
    const char *s = (const char *)PyUnicode_1BYTE_DATA(name);
    PyObject *r;
    if (n == 0)
        r = g_fb_win;
    else if (ascii_lower_contains(s, n, "macroman"))
        r = g_fb_mac;
    else if (ascii_lower_contains(s, n, "winansi"))
        r = g_fb_win;
    else if (ascii_lower_contains(s, n, "standard"))
        r = g_fb_std;
    else if (ascii_lower_contains(s, n, "pdfdoc"))
        r = g_fb_pdfdoc;
    else if (ascii_starts(s, n, "Times") || ascii_starts(s, n, "Helvetica") ||
             ascii_starts(s, n, "Courier"))
        r = g_fb_win;
    else
        r = g_fb_pdfdoc;
    Py_INCREF(r);
    return r;
}

/* Interpreter._memo_for: the document's run memo of (FontInfo or None,
 * fallback class), created when missing; name NULL is font_name None.
 * New ref. */
static PyObject *memo_for(Ctx *c, PyObject *info, PyObject *name)
{
    PyObject *cls =
        name ? fallback_class(name) : (Py_INCREF(g_fb_win), g_fb_win);
    if (!cls)
        return NULL;
    PyObject *key = PyTuple_Pack(2, info ? info : Py_None, cls);
    Py_DECREF(cls);
    if (!key)
        return NULL;
    PyObject *fm = PyDict_GetItemWithError(c->dmemo, key);
    if (fm)
        Py_INCREF(fm);
    else if (!PyErr_Occurred()) {
        fm = PyDict_New();
        if (fm && PyDict_SetItem(c->dmemo, key, fm) < 0)
            Py_CLEAR(fm);
    }
    Py_DECREF(key);
    return fm;
}

/* Tf with a new name: Interpreter._set_font_memo */
static int native_font(Ctx *c, PyObject *name)
{
    if (!PyUnicode_Check(name)) {
        c->bail = 1;
        return -1;
    }
    PyObject *info = NULL;
    if (PyUnicode_GET_LENGTH(name) > 0) { /* `if font_name` */
        info = PyDict_GetItemWithError(c->fonts, name);
        if (!info && PyErr_Occurred())
            return -1;
    }
    PyObject *fm = memo_for(c, info, name);
    if (!fm)
        return -1;
    Py_XSETREF(c->font_memo, fm);
    c->cur_info = info;
    Py_INCREF(name);
    Py_XSETREF(c->tf_name, name);
    return 0;
}

/* ' and ": Interpreter._next_line_show, with the text matrices kept as
 * run_page keeps them after that callback (the line matrix whole, the
 * text matrix's translation) */
static int native_line_show(Ctx *c, Val *v)
{
    PyObject *key = val_to_obj(v);
    if (!key)
        return -1;
    PyObject *hit = PyDict_GetItemWithError(c->font_memo, key);
    if (hit)
        Py_INCREF(hit);
    else if (!PyErr_Occurred())
        hit = decode_miss(c, key);
    Py_DECREF(key);
    if (!hit)
        return -1;
    double unit_w = -1.0;
    if (!PyTuple_Check(hit) || PyTuple_GET_SIZE(hit) != 2 ||
        !PyUnicode_Check(PyTuple_GET_ITEM(hit, 0)) ||
        ((unit_w = PyFloat_AsDouble(PyTuple_GET_ITEM(hit, 1))) == -1.0 &&
         PyErr_Occurred())) {
        Py_DECREF(hit);
        c->bail = 1;
        return -1;
    }
    PyObject *decoded = PyTuple_GET_ITEM(hit, 0);
    /* nm = _mul((1, 0, 0, 1, 0, -leading), text_line_matrix) */
    double t0 = c->la1, t1 = c->la2, t2 = c->la3, t3 = c->la4;
    double a5 = -c->leading;
    double n0 = 1.0 * t0 + 0.0 * t2, n1 = 1.0 * t1 + 0.0 * t3;
    double n2 = 0.0 * t0 + 1.0 * t2, n3 = 0.0 * t1 + 1.0 * t3;
    double n4 = 0.0 * t0 + a5 * t2 + c->lt4;
    double n5 = 0.0 * t1 + a5 * t3 + c->lt5;
    c->la1 = n0;
    c->la2 = n1;
    c->la3 = n2;
    c->la4 = n3;
    c->lt4 = n4;
    c->lt5 = n5;
    double x = n4 * c->ctm[0] + n5 * c->ctm[2] + c->ctm[4];
    double y = n4 * c->ctm[1] + n5 * c->ctm[3] + c->ctm[5];
    if (c->noart) {
        if (c->total) {
            if (PyList_Append(c->text_parts, g_nl) < 0) {
                Py_DECREF(hit);
                return -1;
            }
            c->total += 1;
            c->lastc = '\n';
        }
        Py_ssize_t dlen = PyUnicode_GET_LENGTH(decoded);
        if (dlen) {
            if (PyList_Append(c->text_parts, decoded) < 0) {
                Py_DECREF(hit);
                return -1;
            }
            c->total += dlen;
            c->lastc = PyUnicode_ReadChar(decoded, dlen - 1);
        }
    }
    Py_DECREF(hit);
    double width = unit_w * c->fs;
    c->lastx = x + width;
    c->lasty = y;
    /* text_matrix = _mul((1, 0, 0, 1, tx, 0), nm) */
    double tx = width * c->hs / 100.0;
    c->tt4 = tx * n0 + 0.0 * n2 + n4;
    c->tt5 = tx * n1 + 0.0 * n3 + n5;
    return 0;
}

/* q pushes the CTM, Q pops it (st.saved without the fill colour) */
static int native_q(Ctx *c, int push)
{
    if (push) {
        if (c->qn >= c->qcap) {
            Py_ssize_t cap = c->qcap ? c->qcap * 2 : 16;
            double *nq =
                (double *)realloc(c->qs, (size_t)cap * 6 * sizeof(double));
            if (!nq) {
                PyErr_NoMemory();
                return -1;
            }
            c->qs = nq;
            c->qcap = cap;
        }
        memcpy(c->qs + 6 * c->qn++, c->ctm, 6 * sizeof(double));
    } else if (c->qn > 0) {
        memcpy(c->ctm, c->qs + 6 * --c->qn, 6 * sizeof(double));
        update_ctm_ident(c);
        c->scale_dirty = 1;
    }
    return 0;
}

static int mc_push(Ctx *c, PyObject *tag)
{
    int is_art = PyUnicode_CompareWithASCIIString(tag, "Artifact") == 0 ||
                 (c->mcn > 0 && c->mc[c->mcn - 1]);
    if (c->mcn >= c->mccap) {
        Py_ssize_t cap = c->mccap ? c->mccap * 2 : 16;
        unsigned char *nm = (unsigned char *)realloc(c->mc, (size_t)cap);
        if (!nm) {
            PyErr_NoMemory();
            return -1;
        }
        c->mc = nm;
        c->mccap = cap;
    }
    c->mc[c->mcn++] = (unsigned char)is_art;
    c->art_n += is_art;
    return 0;
}

#define RV_RAISE (-2) /* content._rvalue raises: the props are dropped */
#define RV_BAIL (-3)  /* deep enough that Python's recursion decides */

/* content._rvalue over the operand stack for the value at index i (already
 * popped): the index of the next operand to pop (-1: none left), or
 * RV_RAISE / RV_BAIL */
static Py_ssize_t rv_skip(Ctx *c, Py_ssize_t i, int depth)
{
    Val *v = &c->stk[i];
    Py_ssize_t top = i - 1;
    if (v->tag == V_NUM || v->tag == V_STR || v->tag == V_NAME)
        return top;
    if (v->tag != V_MARK || (v->obj != g_AC && v->obj != g_DC))
        return RV_RAISE;
    if (depth >= 64)
        return RV_BAIL;
    int is_dict = v->obj == g_DC;
    PyObject *open = is_dict ? g_DO : g_AO;
    while (top >= 0) {
        Py_ssize_t j = top--;
        if (c->stk[j].tag == V_MARK && c->stk[j].obj == open)
            return top;
        top = rv_skip(c, j, depth + 1);
        if (top < -1)
            return top;
        if (is_dict) { /* key = st.pop(), a str */
            if (top < 0 || c->stk[top].tag != V_NAME)
                return RV_RAISE;
            top--;
        }
    }
    return RV_RAISE;
}

/* BMC ('M'), BDC ('D') and EMC ('E'): Interpreter._op_bmc, content._c_bdc
 * with _op_bdc, and _op_emc, for what the text reads of them: the
 * artifact gate.  A BDC fetches what _op_bdc fetches: the page's
 * /Properties and, for a named property list, its entry. */
static int native_mc(Ctx *c, int kind)
{
    if (kind == 'E') {
        if (c->mcn > 0)
            c->art_n -= c->mc[--c->mcn];
    } else if (kind == 'M') {
        if (c->sp > 0 && c->stk[c->sp - 1].tag == V_NAME &&
            mc_push(c, c->stk[c->sp - 1].obj) < 0)
            return -1;
    } else {
        /* props = _rdict_or_name(stack); tag = stack.pop() if a str */
        Py_ssize_t top = c->sp - 1;
        PyObject *ref = NULL;
        int raised = top < 0;
        if (!raised) {
            Val *v = &c->stk[top--];
            if (v->tag == V_NAME)
                ref = v->obj;
            else if (v->tag == V_MARK && v->obj == g_DC) {
                for (;;) {
                    if (top < 0) {
                        raised = 1;
                        break;
                    }
                    Py_ssize_t j = top--;
                    if (c->stk[j].tag == V_MARK && c->stk[j].obj == g_DO)
                        break;
                    top = rv_skip(c, j, 1);
                    if (top == RV_BAIL) {
                        c->bail = 1;
                        return -1;
                    }
                    if (top < 0 || c->stk[top].tag != V_NAME) {
                        raised = 1;
                        break;
                    }
                    top--;
                }
            } else
                raised = 1;
        }
        if (!raised && top >= 0 && c->stk[top].tag == V_NAME) {
            PyObject *tag = c->stk[top].obj;
            PyObject *pp = doc_resolve(
                (Doc *)c->doc,
                PyDict_GetItemWithError(c->resources, k_Properties),
                &c->bail);
            if (!pp)
                return -1;
            if (ref && PyDict_Check(pp)) {
                PyObject *entry = PyDict_GetItemWithError(pp, ref);
                PyObject *r = NULL;
                if (entry)
                    r = doc_resolve((Doc *)c->doc, entry, &c->bail);
                if (!r && (entry || PyErr_Occurred())) {
                    Py_DECREF(pp);
                    return -1;
                }
                Py_XDECREF(r);
            }
            Py_DECREF(pp);
            if (mc_push(c, tag) < 0)
                return -1;
        }
    }
    c->noart = c->art_n == 0 || c->inc_art;
    return 0;
}

/* Interpreter._flush_text: the text shown since the last flush becomes a
 * span */
static int flush_text(Ctx *c)
{
    Py_ssize_t np = PyList_GET_SIZE(c->text_parts);
    if (np == c->flushed)
        return 0;
    PyObject *tail = PyList_GetSlice(c->text_parts, c->flushed, np);
    PyObject *seg = tail ? PyUnicode_Join(g_empty, tail) : NULL;
    Py_XDECREF(tail);
    if (!seg)
        return -1;
    int r = 0;
    if (PyUnicode_GET_LENGTH(seg)) {
        PyObject *span = PyTuple_Pack(3, g_text_str, seg, Py_None);
        r = span ? PyList_Append(c->spans, span) : -1;
        Py_XDECREF(span);
    }
    Py_DECREF(seg);
    c->flushed = np;
    return r;
}

/* Interpreter._emit_image: the pending text, then the image span */
static int native_image(Ctx *c, PyObject *media_ref)
{
    if (flush_text(c) < 0)
        return -1;
    PyObject *span = PyTuple_Pack(3, g_image_str, g_empty, media_ref);
    int r = span ? PyList_Append(c->spans, span) : -1;
    Py_XDECREF(span);
    return r;
}

/* Do at the page level (c->resources is the page's /Resources dict):
 * Interpreter._paint_xobject for an image; a Form XObject bails */
static int native_do(Ctx *c, PyObject *name)
{
    Doc *doc = (Doc *)c->doc;
    PyObject *xo = doc_resolve(
        doc, PyDict_GetItemWithError(c->resources, k_XObject), &c->bail);
    if (!xo)
        return -1;
    int rc = 0;
    PyObject *obj = NULL, *sd = NULL;
    if (PyDict_Check(xo)) {
        PyObject *target = PyDict_GetItemWithError(xo, name);
        obj = doc_resolve(doc, target, &c->bail);
        if (!obj)
            rc = -1;
        else if (PyObject_TypeCheck(obj, (PyTypeObject *)g_stream_cls)) {
            sd = PyObject_GetAttr(obj, s_dict);
            PyObject *sub = NULL;
            if (!sd)
                rc = -1;
            else if (!PyDict_Check(sd)) {
                c->bail = 1;
                rc = -1;
            } else if (!(sub = PyDict_GetItemWithError(sd, k_Subtype)) &&
                       PyErr_Occurred())
                rc = -1;
            /* str(Subtype): only a str prints as Image or Form */
            else if (sub && PyUnicode_Check(sub)) {
                if (PyUnicode_CompareWithASCIIString(sub, "Image") == 0)
                    rc = native_image(c, name);
                else if (PyUnicode_CompareWithASCIIString(sub, "Form") == 0) {
                    c->bail = 1;
                    rc = -1;
                }
            }
        }
    }
    Py_DECREF(xo);
    Py_XDECREF(obj);
    Py_XDECREF(sd);
    return rc;
}

/* BI: content._c_bi — _scan_bi finds the end of the image data */
static int native_bi(Ctx *c, Py_ssize_t *pos)
{
    PyObject *pp = PyLong_FromSsize_t(*pos);
    if (!pp)
        return -1;
    PyObject *r =
        PyObject_CallFunctionObjArgs(g_scan_bi, c->data_obj, pp, NULL);
    Py_DECREF(pp);
    if (!r)
        return -1;
    Py_ssize_t np = -1;
    if (PyTuple_Check(r) && PyTuple_GET_SIZE(r) == 3)
        np = PyLong_AsSsize_t(PyTuple_GET_ITEM(r, 2));
    Py_DECREF(r);
    if (np < 0) {
        if (!PyErr_Occurred())
            c->bail = 1;
        return -1;
    }
    PyObject *ref = PyUnicode_FromFormat("inline:%zd:%zd", c->page_index,
                                         c->inline_idx);
    if (!ref)
        return -1;
    int rc = native_image(c, ref);
    Py_DECREF(ref);
    c->inline_idx++;
    *pos = np;
    return rc;
}

typedef struct {
    Doc doc;
    PyObject *fic, *dmemo, *safe_decode; /* _fontinfo_cache, run memo */
    PyObject *spans, *texts, *frags;     /* the DocResult lists */
    PyObject *shared_fi; /* extract_batch's {font_key: FontInfo}, or NULL */
    double nl_thr, sp_thr, tj_thr;
    int inc_art;
} Pages;

/* A hashable key for a font dict, equal for two dicts extract_font_info
 * builds the same FontInfo from: a dict or list as its type and its
 * items' keys in order, a scalar as (type, value), a float by its bits.
 * With a document (the batch loop), a reference is (Ref, the key of the
 * object it resolves to) and a stream (Stream, its dict's key, its raw
 * bytes, up to FK_RAW_MAX of them); without one, a value that holds a
 * reference has no key.  New ref; NULL without an exception for no key
 * (another object, a fetch that bails or raises, a nest deeper than 16,
 * more than FK_NODES values). */
#define FK_RAW_MAX 4096
#define FK_NODES 4096

typedef struct {
    Doc *doc;
    int nodes;
} FKey;

static PyObject *font_key(FKey *f, PyObject *v, int depth);

/* t[i] = font_key(v): 0, or -1 (v not keyed, or an exception) */
static int set_key(FKey *f, PyObject *t, Py_ssize_t i, PyObject *v, int depth)
{
    PyObject *k = font_key(f, v, depth + 1);
    if (!k)
        return -1;
    PyTuple_SET_ITEM(t, i, k);
    return 0;
}

static PyObject *font_key(FKey *f, PyObject *v, int depth)
{
    if (depth > 16 || ++f->nodes > FK_NODES)
        return NULL;
    PyObject *t, *k, *x;
    if (PyDict_CheckExact(v)) {
        t = PyTuple_New(1 + 2 * PyDict_GET_SIZE(v));
        Py_ssize_t pos = 0, i = 1;
        while (t && PyDict_Next(v, &pos, &k, &x)) {
            if (set_key(f, t, i++, k, depth) < 0 ||
                set_key(f, t, i++, x, depth) < 0)
                Py_CLEAR(t);
        }
    } else if (PyList_CheckExact(v)) {
        t = PyTuple_New(1 + PyList_GET_SIZE(v));
        for (Py_ssize_t i = 0; t && i < PyList_GET_SIZE(v); i++)
            if (set_key(f, t, i + 1, PyList_GET_ITEM(v, i), depth) < 0)
                Py_CLEAR(t);
    } else if (PyFloat_CheckExact(v)) {
        double d = PyFloat_AS_DOUBLE(v);
        return Py_BuildValue("(Oy#)", (PyObject *)Py_TYPE(v), (char *)&d,
                             (Py_ssize_t)sizeof(d));
    } else if (PyUnicode_Check(v) || PyBytes_CheckExact(v) ||
               PyLong_CheckExact(v) || PyBool_Check(v) || v == Py_None) {
        return PyTuple_Pack(2, (PyObject *)Py_TYPE(v), v);
    } else if (f->doc && PyObject_TypeCheck(v, (PyTypeObject *)g_ref_cls)) {
        int bail = 0;
        PyObject *r = doc_resolve(f->doc, v, &bail);
        if (!r) {
            if (PyErr_Occurred() && PyErr_ExceptionMatches(PyExc_Exception))
                PyErr_Clear();
            return NULL;
        }
        k = font_key(f, r, depth + 1);
        Py_DECREF(r);
        return k ? Py_BuildValue("(ON)", (PyObject *)Py_TYPE(v), k) : NULL;
    } else if (f->doc &&
               PyObject_TypeCheck(v, (PyTypeObject *)g_stream_cls)) {
        PyObject *sd = PyObject_GetAttr(v, s_dict);
        PyObject *raw = sd ? PyObject_GetAttr(v, s_raw) : NULL;
        k = raw && PyBytes_CheckExact(raw) &&
                    PyBytes_GET_SIZE(raw) <= FK_RAW_MAX
                ? font_key(f, sd, depth + 1)
                : NULL;
        t = k ? PyTuple_Pack(3, (PyObject *)Py_TYPE(v), k, raw) : NULL;
        Py_XDECREF(k);
        Py_XDECREF(sd);
        Py_XDECREF(raw);
        return t;
    } else
        return NULL;
    if (t)
        PyTuple_SET_ITEM(t, 0, Py_NewRef((PyObject *)Py_TYPE(v)));
    return t;
}

/* extract_font_info(resolve(fobj)) for a dict, else None (new ref).  In
 * extract_batch, font dicts with equal font_keys build the same FontInfo
 * in every document (extract_font_info reads only the dict and the
 * objects its references resolve to), so the FontInfo is shared through
 * P->shared_fi for the whole batch.  A miss builds it over the
 * document's reader (doc_reader). */
static PyObject *font_info(Pages *P, PyObject *fobj, int *bail)
{
    PyObject *fd = doc_resolve(&P->doc, fobj, bail);
    if (!fd)
        return NULL;
    PyObject *fi = Py_None, *key = NULL;
    if (PyDict_Check(fd)) {
        if (P->shared_fi) {
            FKey f = {NULL, 0};
            key = font_key(&f, fd, 0);
            if (!key && !PyErr_Occurred()) {
                FKey g = {&P->doc, 0};
                key = font_key(&g, fd, 0);
            }
        }
        fi = key ? PyDict_GetItemWithError(P->shared_fi, key) : NULL;
        if (fi)
            Py_INCREF(fi);
        else if (!PyErr_Occurred()) {
            PyObject *reader = doc_reader(&P->doc);
            fi = reader ? PyObject_CallFunctionObjArgs(g_extract_font_info,
                                                       fd, reader, NULL)
                        : NULL;
            if (fi && key && PyDict_SetItem(P->shared_fi, key, fi) < 0)
                Py_CLEAR(fi);
        }
    } else
        Py_INCREF(fi);
    Py_XDECREF(key);
    Py_DECREF(fd);
    return fi;
}

/* fonts.extract_page_fonts(resources, reader): {str(name): FontInfo},
 * FontInfo by Ref from reader._fontinfo_cache.  New ref, or NULL with
 * *bail set / an exception. */
static PyObject *page_fonts(Pages *P, PyObject *res, int *bail)
{
    PyObject *fonts = PyDict_New();
    if (!fonts)
        return NULL;
    PyObject *fr = doc_resolve(&P->doc, PyDict_GetItemWithError(res, k_Font),
                               bail);
    if (!fr) {
        Py_DECREF(fonts);
        return NULL;
    }
    if (!PyDict_Check(fr)) {
        Py_DECREF(fr);
        return fonts;
    }
    Py_ssize_t pos = 0;
    PyObject *k, *v;
    int ok = 1;
    while (ok && PyDict_Next(fr, &pos, &k, &v)) {
        Py_INCREF(k);
        Py_INCREF(v);
        PyObject *fi = NULL;
        if (PyObject_TypeCheck(v, (PyTypeObject *)g_ref_cls)) {
            fi = PyDict_GetItemWithError(P->fic, v);
            if (fi)
                Py_INCREF(fi);
            else if (!PyErr_Occurred()) {
                fi = font_info(P, v, bail);
                if (fi && PyDict_SetItem(P->fic, v, fi) < 0)
                    Py_CLEAR(fi);
            }
        } else
            fi = font_info(P, v, bail);
        if (!fi)
            ok = 0;
        else if (fi != Py_None) {
            PyObject *key = PyUnicode_CheckExact(k) ? (Py_INCREF(k), k)
                                                    : PyObject_Str(k);
            ok = key && PyDict_SetItem(fonts, key, fi) == 0;
            Py_XDECREF(key);
        }
        Py_XDECREF(fi);
        Py_DECREF(k);
        Py_DECREF(v);
    }
    Py_DECREF(fr);
    if (!ok)
        Py_CLEAR(fonts);
    return fonts;
}

/* one page, its dict and resources borrowed: 1 = served (its spans
 * appended, and its text and fragments when P keeps them), 0 = bail
 * (nothing appended), -1 = an exception that is not an Exception
 * (propagates) */
static int run_one(Pages *P, PyObject *pd, PyObject *res, Py_ssize_t idx)
{
    Ctx cx;
    Ctx *c = &cx;
    memset(c, 0, sizeof(Ctx));
    c->native = 1;
    c->doc = &P->doc;
    c->dmemo = P->dmemo;
    c->page_index = idx;
    int rc = -1;
    PyObject *text = NULL, *frag = NULL, *contents = NULL;
    if (!PyDict_Check(pd) || !PyDict_Check(res)) {
        c->bail = 1;
        goto bail;
    }
    c->fonts = page_fonts(P, res, &c->bail);
    if (!c->fonts)
        goto bail;
    contents = PyDict_GetItemWithError(pd, k_Contents);
    if (!contents && PyErr_Occurred())
        goto bail;
    if (!contents || contents == Py_None)
        c->data_obj = PyBytes_FromStringAndSize(NULL, 0);
    else {
        Py_INCREF(contents);
        c->data_obj = doc_contents(&P->doc, contents, P->safe_decode,
                                   &c->bail);
        Py_DECREF(contents);
    }
    if (!c->data_obj)
        goto bail;
    if (!PyBytes_Check(c->data_obj)) {
        c->bail = 1;
        goto bail;
    }
    c->data = (const unsigned char *)PyBytes_AS_STRING(c->data_obj);
    c->n = PyBytes_GET_SIZE(c->data_obj);
    /* Interpreter(...): a fresh _State, the thresholds, the font-None memo */
    c->resources = res;
    c->nl_thr = P->nl_thr;
    c->sp_thr = P->sp_thr;
    c->tj_thr = P->tj_thr;
    c->inc_art = P->inc_art;
    c->la1 = c->la4 = 1.0;
    c->ctm[0] = c->ctm[3] = 1.0;
    c->ctm_ident = 1;
    c->hs = 100.0;
    c->l_sp = c->sp_thr * c->fs;
    c->noart = 1;
    c->tf_name = Py_None;
    Py_INCREF(Py_None);
    c->text_parts = PyList_New(0);
    c->spans = PyList_New(0);
    if (!c->text_parts || !c->spans)
        goto bail;
    c->font_memo = memo_for(c, NULL, NULL);
    if (!c->font_memo || scan_content(c) < 0)
        goto bail;
    /* finalize: the last text span, the page text, no fragments */
    if (c->flushed == 0) {
        text = PyUnicode_Join(g_empty, c->text_parts);
        if (text && PyUnicode_GET_LENGTH(text)) {
            PyObject *span = PyTuple_Pack(3, g_text_str, text, Py_None);
            if (!span || PyList_Append(c->spans, span) < 0)
                Py_CLEAR(text);
            Py_XDECREF(span);
        }
    } else if (flush_text(c) == 0)
        text = PyUnicode_Join(g_empty, c->text_parts);
    frag = text ? PyList_New(0) : NULL;
    if (!frag)
        goto bail;
    /* committed: an error from here on propagates */
    rc = -1;
    if (PyList_SetSlice(P->spans, PY_SSIZE_T_MAX, PY_SSIZE_T_MAX,
                        c->spans) < 0 ||
        (P->texts && (PyList_Append(P->texts, text) < 0 ||
                      PyList_Append(P->frags, frag) < 0)))
        goto out;
    rc = 1;
    goto out;
bail:
    /* a bail, or an exception Python re-raises in the page's own run */
    if (!PyErr_Occurred() || PyErr_ExceptionMatches(PyExc_Exception)) {
        PyErr_Clear();
        rc = 0;
    }
out:
    stack_clear(c);
    free(c->stk);
    free(c->qs);
    free(c->mc);
    Py_XDECREF(text);
    Py_XDECREF(frag);
    Py_XDECREF(c->fonts);
    Py_XDECREF(c->data_obj);
    Py_XDECREF(c->text_parts);
    Py_XDECREF(c->spans);
    Py_XDECREF(c->font_memo);
    Py_XDECREF(c->tf_name);
    return rc;
}

/* run_pages(reader, pages, start, spans, page_texts, page_fragments,
 * newline_threshold, space_threshold, tj_space_threshold,
 * include_artifacts, _safe_decode): runs pages[start:] until one bails,
 * appending each served page's results to the three DocResult lists.
 * Returns the index of the first page not served (len(pages) when all
 * were), or None when this document is not served at all. */
static PyObject *run_pages(PyObject *self, PyObject *args)
{
    Pages P;
    memset(&P, 0, sizeof(P));
    PyObject *reader, *pages;
    Py_ssize_t start;
    if (!PyArg_ParseTuple(args, "OO!nO!O!O!dddpO", &reader, &PyList_Type,
                          &pages, &start, &PyList_Type, &P.spans,
                          &PyList_Type, &P.texts, &PyList_Type, &P.frags,
                          &P.nl_thr, &P.sp_thr, &P.tj_thr, &P.inc_art,
                          &P.safe_decode))
        return NULL;
    if (!g_extract_font_info || !g_cmap_cls || !g_scan_bi || start < 0)
        Py_RETURN_NONE;
    int rc = doc_open(&P.doc, reader);
    if (rc <= 0) {
        if (rc < 0)
            return NULL;
        Py_RETURN_NONE;
    }
    P.fic = PyObject_GetAttr(reader, s_fontinfo_cache);
    P.dmemo = P.fic ? PyObject_GetAttr(reader, s_span_memo) : NULL;
    int served = P.dmemo && PyDict_CheckExact(P.fic) &&
                 PyDict_CheckExact(P.dmemo);
    if (!served && PyErr_Occurred()) {
        if (PyErr_ExceptionMatches(PyExc_AttributeError))
            PyErr_Clear(); /* a reader without the caches: not served */
        else
            rc = -1;
    }
    Py_ssize_t idx = start;
    for (; served && idx < PyList_GET_SIZE(pages); idx++) {
        PyObject *page = PyList_GET_ITEM(pages, idx);
        PyObject *pd = PyObject_GetAttr(page, s_dict);
        PyObject *res = pd ? PyObject_GetAttr(page, s_resources) : NULL;
        rc = res ? run_one(&P, pd, res, idx) : -1;
        Py_XDECREF(pd);
        Py_XDECREF(res);
        if (rc == -1 && PyErr_ExceptionMatches(PyExc_Exception)) {
            PyErr_Clear(); /* a Page without its slots: Python runs it */
            rc = 0;
        }
        if (rc <= 0)
            break;
    }
    Py_XDECREF(P.fic);
    Py_XDECREF(P.dmemo);
    doc_close(&P.doc);
    if (rc < 0)
        return NULL;
    if (!served)
        Py_RETURN_NONE;
    return PyLong_FromSsize_t(idx);
}

/* ======================================================================== */
/* The batch loop: extract_batch runs extract.extract_batch's per-document
 * loop over one Arrow batch in one call, reading the input columns'
 * buffers and writing the output columns' buffers.  Per document it does
 * what extract_document_spans does: the latin-1 payload decode (from the
 * UTF-8 column data straight into the document's bytes), the xref chain
 * into the document's C table after the header check, the /Root and
 * /Encrypt checks, the page tree and the page loop (run_one per page);
 * for an HTML payload the tokenizer and extract_html_spans' filter; and
 * the text/media passthrough, copied column to column.  No PdfReader
 * exists unless a Python step needs one (a FontInfo build on a shared_fi
 * miss, a content stream decode handed to Python): the batch's reader
 * factory then builds it through PdfReader's constructor, once per
 * document (doc_reader), and the C fetch goes on over the tables.  It
 * times wall_ms itself.  A document it is not certain about is handed
 * back whole, before anything of it is kept, to the Python row function
 * (extract_document_spans with a fresh reader, which stays the
 * authority): a password, a b85: or non-latin-1 payload, a reader that
 * raises or bails (a missing header or /Root, an xref chain chain_tab
 * bails on, a recovered reader in strict mode), encryption, a page tree
 * flatten_doc does not serve, a page run_one bails on, an object stream
 * whose container filter the native chain declines (its decode would run
 * in the middle of a fetch: objstm), an HTML document html_events bails
 * on, and a span that does not encode as UTF-8.  The
 * documents served and handed back, by reason, are counted in
 * g_batch_counts (batch_counts reads them). */

enum { HB_SERVED, HB_PASSWORD, HB_B85, HB_PAYLOAD, HB_READER, HB_ENCRYPTED,
       HB_TREE, HB_PAGE, HB_OBJSTM, HB_HTML, HB_N };
static const char *const hb_names[HB_N] = {
    "served", "password", "b85", "payload", "reader", "encrypted", "tree",
    "page", "objstm", "html"};
static long long g_batch_counts[HB_N];

static PyObject *k_Encrypt, *g_b85_str;

/* PdfReader._parse_header's check: a %PDF-x.y ending within the first
 * 1 KB.  1 = found, 0 = missing. */
static int pdf_header(const unsigned char *d, Py_ssize_t n)
{
    Py_ssize_t end = n < 1024 ? n : 1024;
    for (Py_ssize_t p = 0; p + 5 < end; p++) {
        if (d[p] != '%' || memcmp(d + p, "%PDF-", 5) != 0)
            continue;
        Py_ssize_t a = p + 5, i = a;
        while (i < end && d[i] >= '0' && d[i] <= '9')
            i++;
        if (i == a || i >= end || d[i] != '.')
            continue;
        if (i + 1 < end && d[i + 1] >= '0' && d[i + 1] <= '9')
            return 1;
    }
    return 0;
}

/* ---- Arrow columns ------------------------------------------------------ *
 * The input string columns are read through the buffer protocol: an
 * array's offset, validity bitmap (or none), int32 offsets and UTF-8
 * data.  The output columns are built in malloc'd buffers and handed
 * back as bytes for pa.Array.from_buffers. */

typedef struct {
    Py_buffer valid, offs, data;
    int has_valid, open;
    Py_ssize_t off, n_offs; /* array offset; int32 offsets in the buffer */
} SIn;

static void sin_close(SIn *s)
{
    if (!s->open)
        return;
    if (s->has_valid)
        PyBuffer_Release(&s->valid);
    PyBuffer_Release(&s->offs);
    PyBuffer_Release(&s->data);
    s->open = 0;
}

/* t = (offset, validity or None, offsets, data): 0, or -1 (exception) */
static int sin_open(SIn *s, PyObject *t)
{
    memset(s, 0, sizeof(*s));
    PyObject *valid, *offs, *data;
    if (!PyArg_ParseTuple(t, "nOOO", &s->off, &valid, &offs, &data))
        return -1;
    s->has_valid = valid != Py_None;
    if (s->has_valid && PyObject_GetBuffer(valid, &s->valid, PyBUF_SIMPLE) < 0)
        return -1;
    if (PyObject_GetBuffer(offs, &s->offs, PyBUF_SIMPLE) < 0) {
        if (s->has_valid)
            PyBuffer_Release(&s->valid);
        return -1;
    }
    if (PyObject_GetBuffer(data, &s->data, PyBUF_SIMPLE) < 0) {
        if (s->has_valid)
            PyBuffer_Release(&s->valid);
        PyBuffer_Release(&s->offs);
        return -1;
    }
    s->open = 1;
    s->n_offs = s->offs.len / 4;
    if (s->off < 0) {
        PyErr_SetString(PyExc_ValueError, "extract_batch: negative offset");
        return -1;
    }
    return 0;
}

/* value j: 1 = *p, *len set, 0 = null, -1 = out of bounds (exception) */
static int sin_get(SIn *s, Py_ssize_t j, const char **p, Py_ssize_t *len)
{
    Py_ssize_t i = s->off + j;
    if (j < 0 || i + 1 >= s->n_offs)
        goto bad;
    if (s->has_valid) {
        if (i / 8 >= s->valid.len)
            goto bad;
        if (!((((const unsigned char *)s->valid.buf)[i / 8] >> (i % 8)) & 1))
            return 0;
    }
    const int32_t *o = (const int32_t *)s->offs.buf;
    if (o[i] < 0 || o[i + 1] < o[i] || o[i + 1] > s->data.len)
        goto bad;
    *p = (const char *)s->data.buf + o[i];
    *len = o[i + 1] - o[i];
    return 1;
bad:
    PyErr_SetString(PyExc_ValueError, "extract_batch: column out of bounds");
    return -1;
}

/* value j as a str, or None */
static PyObject *sin_obj(SIn *s, Py_ssize_t j)
{
    const char *p;
    Py_ssize_t len;
    int rc = sin_get(s, j, &p, &len);
    if (rc < 0)
        return NULL;
    return rc ? PyUnicode_DecodeUTF8(p, len, NULL) : Py_NewRef(Py_None);
}

typedef struct {
    char *p;
    Py_ssize_t len, cap;
} Buf;

static int buf_put(Buf *b, const void *src, Py_ssize_t n)
{
    if (b->len + n > b->cap) {
        Py_ssize_t cap = b->cap * 2 > b->len + n ? b->cap * 2 : b->len + n + 64;
        char *q = (char *)realloc(b->p, (size_t)cap);
        if (!q) {
            PyErr_NoMemory();
            return -1;
        }
        b->p = q;
        b->cap = cap;
    }
    if (n)
        memcpy(b->p + b->len, src, (size_t)n);
    b->len += n;
    return 0;
}

static int buf_i32(Buf *b, long long v)
{
    int32_t x = (int32_t)v;
    if (x != v) {
        PyErr_SetString(PyExc_OverflowError, "extract_batch: int32 column");
        return -1;
    }
    return buf_put(b, &x, 4);
}

static PyObject *buf_bytes(Buf *b)
{
    return PyBytes_FromStringAndSize(b->p ? b->p : "", b->len);
}

/* a string column: int32 offsets, UTF-8 data, one validity byte per row
 * (packed into a bitmap at the end) */
typedef struct {
    Buf offs, data, valid;
    Py_ssize_t n;
} SOut;

static int sout_put(SOut *s, const char *p, Py_ssize_t len, int valid)
{
    unsigned char v = (unsigned char)valid;
    if (!s->offs.len && buf_i32(&s->offs, 0) < 0)
        return -1;
    if (buf_put(&s->data, p, len) < 0 || buf_i32(&s->offs, s->data.len) < 0 ||
        buf_put(&s->valid, &v, 1) < 0)
        return -1;
    s->n++;
    return 0;
}

/* a str (its UTF-8: a lone surrogate raises UnicodeEncodeError) or None */
static int sout_obj(SOut *s, PyObject *v)
{
    if (v == Py_None)
        return sout_put(s, "", 0, 0);
    if (!PyUnicode_Check(v)) {
        PyErr_SetString(PyExc_TypeError, "extract_batch: a span is not str");
        return -1;
    }
    Py_ssize_t len;
    const char *p = PyUnicode_IS_ASCII(v) ? (len = PyUnicode_GET_LENGTH(v),
                                              (const char *)PyUnicode_DATA(v))
                                           : PyUnicode_AsUTF8AndSize(v, &len);
    return p ? sout_put(s, p, len, 1) : -1;
}

/* back to n rows */
static void sout_cut(SOut *s, Py_ssize_t n)
{
    if (n >= s->n)
        return;
    s->n = n;
    s->offs.len = (n + 1) * 4;
    s->data.len = ((int32_t *)s->offs.p)[n];
    s->valid.len = n;
}

/* one byte per row packed into an Arrow bitmap; *zeros counts the 0s */
static PyObject *pack_bits(Buf *v, Py_ssize_t *zeros)
{
    PyObject *bits = PyBytes_FromStringAndSize(NULL, (v->len + 7) / 8);
    if (!bits)
        return NULL;
    unsigned char *b = (unsigned char *)PyBytes_AS_STRING(bits);
    memset(b, 0, (size_t)((v->len + 7) / 8));
    *zeros = 0;
    for (Py_ssize_t i = 0; i < v->len; i++) {
        if (v->p[i])
            b[i / 8] |= (unsigned char)(1 << (i % 8));
        else
            ++*zeros;
    }
    return bits;
}

static PyObject *bits_bytes(Buf *v)
{
    Py_ssize_t zeros;
    return pack_bits(v, &zeros);
}

/* (validity bitmap or None, offsets, data, null count) */
static PyObject *sout_finish(SOut *s)
{
    if (!s->offs.len && buf_i32(&s->offs, 0) < 0)
        return NULL;
    Py_ssize_t nulls;
    PyObject *bits = pack_bits(&s->valid, &nulls);
    if (!bits)
        return NULL;
    if (!nulls)
        Py_SETREF(bits, Py_NewRef(Py_None));
    return Py_BuildValue("(NNNn)", bits, buf_bytes(&s->offs),
                         buf_bytes(&s->data), nulls);
}

static void sout_free(SOut *s)
{
    free(s->offs.p);
    free(s->data.p);
    free(s->valid.p);
}

typedef struct {
    PyObject *reader_factory, *safe_decode;
    int strict, inc_art;
    double nl_thr, sp_thr, tj_thr, link_density_max;
    Py_ssize_t min_block_chars;
    long max_depth;
    PyObject *payload_spans; /* one payload's (kind, text, media_ref) spans */
    PyObject *shared_fi;     /* FontInfo by font_key, for the batch */
    SIn kind, text, ref;     /* the input span columns */
    SOut okind, otext, oref, omode, oerr; /* the output string columns */
    Buf soff, lofs, ok, npages, nspans, bytes_in, wall;
} Batch;

/* an exception in a document's step: an Exception hands the document
 * back for `why` (0), anything else propagates (-1) */
static int hand_back(int *reason, int why)
{
    if (PyErr_Occurred()) {
        if (!PyErr_ExceptionMatches(PyExc_Exception))
            return -1;
        PyErr_Clear();
    }
    *reason = why;
    return 0;
}

/* decode_raw_payload for a latin-1 payload given as UTF-8: the bytes,
 * with no b85: prefix.  New bytes, or NULL with *why set (no
 * exception) / an exception. */
static PyObject *latin1_payload(const char *p, Py_ssize_t len, int *why)
{
    if (len >= 4 && memcmp(p, "b85:", 4) == 0) {
        *why = HB_B85;
        return NULL;
    }
    const unsigned char *u = (const unsigned char *)p;
    Py_ssize_t k = 0, i = 0;
    uint64_t hi = 0, w;
    for (; i + 8 <= len; i += 8) { /* 8 bytes at a time: any high bit */
        memcpy(&w, u + i, 8);
        hi |= w;
    }
    for (; i < len; i++)
        hi |= u[i];
    if (!(hi & 0x8080808080808080ULL))
        return PyBytes_FromStringAndSize(p, len);
    PyObject *out = PyBytes_FromStringAndSize(NULL, len);
    if (!out)
        return NULL;
    unsigned char *o = (unsigned char *)PyBytes_AS_STRING(out);
    for (i = 0; i < len; i++) {
        if (u[i] < 0x80)
            o[k++] = u[i];
        else if ((u[i] == 0xC2 || u[i] == 0xC3) && i + 1 < len &&
                 (u[i + 1] & 0xC0) == 0x80) {
            o[k++] = (unsigned char)((u[i] & 0x1F) << 6 | (u[i + 1] & 0x3F));
            i++;
        } else { /* a code point past U+00FF: not latin-1 */
            Py_DECREF(out);
            *why = HB_PAYLOAD;
            return NULL;
        }
    }
    _PyBytes_Resize(&out, k);
    return out;
}

/* one raw_pdf payload (extract_pdf_bytes) of p[:len] (NULL: a null
 * text): 1 = served, its spans in B->payload_spans, *n_pages and
 * *bytes_in added to and *mode set to a non-strict reader mode; 0 = hand
 * back (*reason set); -1 = exception */
static int batch_pdf(Batch *B, const char *p, Py_ssize_t len, int *reason,
                     long long *n_pages, long long *bytes_in, PyObject **mode)
{
    int why = HB_READER;
    PyObject *data = latin1_payload(p ? p : "", p ? len : 0, &why);
    if (!data)
        return hand_back(reason, why);
    const unsigned char *u = (const unsigned char *)PyBytes_AS_STRING(data);
    Py_ssize_t n = PyBytes_GET_SIZE(data);
    Pages P;
    memset(&P, 0, sizeof(P));
    PyObject *trailer = NULL, *rmode = NULL, *pages = NULL;
    int rc = 0, bail = 0;
    if (pdf_header(u, n)) /* also the empty file */
        rc = chain_tab(data, !B->strict, &P.doc.xt, &trailer, &rmode);
    if (rc <= 0) {
        Py_DECREF(data);
        return hand_back(reason, HB_READER);
    }
    int has_root = PyDict_Contains(trailer, k_Root);
    int has_enc = has_root > 0 ? PyDict_Contains(trailer, k_Encrypt) : 0;
    if ((B->strict && rmode != s_strict) || has_root <= 0 || has_enc) {
        rc = hand_back(reason, has_enc > 0 ? HB_ENCRYPTED : HB_READER);
        goto out;
    }
    P.fic = PyDict_New();
    P.dmemo = PyDict_New();
    if (!P.fic || !P.dmemo) {
        rc = hand_back(reason, HB_READER);
        goto out;
    }
    P.doc.tab = 1;
    P.doc.factory = B->reader_factory;
    P.doc.data = Py_NewRef(data);
    P.doc.d = u;
    P.doc.n = n;
    P.doc.lenient = !B->strict;
    P.safe_decode = B->safe_decode;
    P.spans = B->payload_spans;
    P.shared_fi = B->shared_fi;
    P.nl_thr = B->nl_thr;
    P.sp_thr = B->sp_thr;
    P.tj_thr = B->tj_thr;
    P.inc_art = B->inc_art;
    pages = flatten_doc(&P.doc, trailer, NULL, B->max_depth, &bail);
    if (!pages) {
        rc = hand_back(reason, HB_TREE);
    } else {
        rc = 1;
        for (Py_ssize_t i = 0; rc == 1 && i < PyList_GET_SIZE(pages); i++) {
            PyObject *pg = PyList_GET_ITEM(pages, i);
            rc = run_one(&P, PyTuple_GET_ITEM(pg, 0), PyTuple_GET_ITEM(pg, 1),
                         i);
        }
        if (rc == 0)
            *reason = HB_PAGE;
        if (rc == 1) {
            *n_pages += PyList_GET_SIZE(pages);
            *bytes_in += n;
            if (rmode != s_strict)
                *mode = rmode;
        }
    }
    if (rc == 0 && P.doc.objstm_py)
        *reason = HB_OBJSTM;
out:
    Py_XDECREF(pages);
    Py_XDECREF(P.fic);
    Py_XDECREF(P.dmemo);
    doc_close(&P.doc);
    Py_DECREF(trailer);
    Py_DECREF(data);
    return rc;
}

/* append the spans of B->payload_spans to the span columns, numbering
 * them from *k: 0, or -1 (exception; a span Arrow cannot encode) */
static int batch_unpack(Batch *B, Py_ssize_t *k)
{
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(B->payload_spans); i++) {
        PyObject *sp = PyList_GET_ITEM(B->payload_spans, i);
        if (sout_obj(&B->okind, PyTuple_GET_ITEM(sp, 0)) < 0 ||
            sout_obj(&B->otext, PyTuple_GET_ITEM(sp, 1)) < 0 ||
            sout_obj(&B->oref, PyTuple_GET_ITEM(sp, 2)) < 0 ||
            buf_i32(&B->soff, (*k)++) < 0)
            return -1;
    }
    return PyList_SetSlice(B->payload_spans, 0,
                           PyList_GET_SIZE(B->payload_spans), NULL);
}

static int bytes_is(const char *p, Py_ssize_t len, const char *lit)
{
    return p && (size_t)len == strlen(lit) && memcmp(p, lit, (size_t)len) == 0;
}

/* copy input column value j to an output column (a null stays null,
 * or becomes "" with empty) */
static int copy_value(SIn *in, SOut *out, Py_ssize_t j, int empty)
{
    const char *p;
    Py_ssize_t len;
    int rc = sin_get(in, j, &p, &len);
    if (rc < 0)
        return -1;
    return rc ? sout_put(out, p, len, 1) : sout_put(out, "", 0, empty);
}

/* one document's spans lo..hi: 1 = served (appended), 0 = hand back,
 * -1 = exception */
static int batch_doc(Batch *B, Py_ssize_t lo, Py_ssize_t hi, int *reason,
                     long long *n_pages, long long *bytes_in, PyObject **mode,
                     Py_ssize_t *k)
{
    for (Py_ssize_t j = lo; j < hi; j++) {
        const char *kp = NULL, *tp = NULL;
        Py_ssize_t kl = 0, tl = 0;
        if (sin_get(&B->kind, j, &kp, &kl) < 0 ||
            sin_get(&B->text, j, &tp, &tl) < 0)
            return -1;
        if (bytes_is(kp, kl, "raw_pdf")) {
            int rc = batch_pdf(B, tp, tl, reason, n_pages, bytes_in, mode);
            if (rc <= 0)
                return rc;
        } else if (bytes_is(kp, kl, "raw_html")) {
            PyObject *text = tp ? PyUnicode_DecodeUTF8(tp, tl, NULL)
                                : Py_NewRef(g_empty);
            if (!text)
                return hand_back(reason, HB_PAYLOAD);
            H h;
            int rc = html_run(&h, text, 0);
            if (rc > 0)
                rc = html_filter(h.events, B->link_density_max,
                                 B->min_block_chars, B->payload_spans) < 0 ? -1 : 1;
            h_free(&h);
            if (rc > 0)
                *bytes_in += PyUnicode_GET_LENGTH(text);
            Py_DECREF(text);
            if (rc <= 0)
                return hand_back(reason, HB_HTML);
        } else {
            /* text / media / unknown kinds pass through: (kind, text or
             * "", media_ref), with no media_ref on a text span */
            if (copy_value(&B->kind, &B->okind, j, 0) < 0 ||
                copy_value(&B->text, &B->otext, j, 1) < 0 ||
                (bytes_is(kp, kl, "text") ? sout_put(&B->oref, "", 0, 0)
                                          : copy_value(&B->ref, &B->oref, j, 0)) < 0 ||
                buf_i32(&B->soff, (*k)++) < 0)
                return -1;
            continue;
        }
        if (batch_unpack(B, k) < 0)
            return hand_back(reason, HB_PAYLOAD);
    }
    return 1;
}

static double now_ms(void)
{
    struct timespec ts;
    clock_gettime(CLOCK_MONOTONIC, &ts);
    return ts.tv_sec * 1e3 + ts.tv_nsec / 1e6;
}

/* one document's per-row columns */
static int batch_row(Batch *B, int ok, PyObject *mode, PyObject *error,
                     long long n_pages, Py_ssize_t n_spans, long long bytes_in,
                     double wall)
{
    unsigned char o = (unsigned char)ok;
    return (buf_i32(&B->lofs, B->okind.n) < 0 || buf_put(&B->ok, &o, 1) < 0 ||
            sout_obj(&B->omode, mode) < 0 || sout_obj(&B->oerr, error) < 0 ||
            buf_i32(&B->npages, n_pages) < 0 ||
            buf_i32(&B->nspans, n_spans) < 0 ||
            buf_put(&B->bytes_in, &bytes_in, 8) < 0 ||
            buf_put(&B->wall, &wall, 8) < 0)
               ? -1
               : 0;
}

/* row's (kind, text, media_ref) triples lo..hi */
static PyObject *batch_triples(Batch *B, Py_ssize_t lo, Py_ssize_t hi)
{
    PyObject *lst = PyList_New(hi - lo);
    for (Py_ssize_t j = lo; lst && j < hi; j++) {
        PyObject *k = sin_obj(&B->kind, j);
        PyObject *t = k ? sin_obj(&B->text, j) : NULL;
        PyObject *m = t ? sin_obj(&B->ref, j) : NULL;
        PyObject *tr = m ? PyTuple_Pack(3, k, t, m) : NULL;
        Py_XDECREF(k);
        Py_XDECREF(t);
        Py_XDECREF(m);
        if (!tr)
            Py_CLEAR(lst);
        else
            PyList_SET_ITEM(lst, j - lo, tr);
    }
    return lst;
}

/* run_row(row, triples) → (spans, meta) of a handed-back document,
 * written to the columns */
static int batch_python_row(Batch *B, PyObject *run_row, Py_ssize_t row,
                            Py_ssize_t lo, Py_ssize_t hi)
{
    double t0 = now_ms();
    PyObject *triples = batch_triples(B, lo, hi), *res = NULL;
    if (triples)
        res = PyObject_CallFunction(run_row, "nO", row, triples);
    Py_XDECREF(triples);
    if (!res)
        return -1;
    PyObject *spans, *meta;
    int rc = -1;
    if (!PyArg_ParseTuple(res, "O!O!", &PyList_Type, &spans, &PyDict_Type,
                          &meta))
        goto out;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(spans); i++) {
        PyObject *sp = PyList_GET_ITEM(spans, i), *k, *t, *m;
        Py_ssize_t o;
        if (!PyArg_ParseTuple(sp, "OOOn", &k, &t, &m, &o) ||
            sout_obj(&B->okind, k) < 0 || sout_obj(&B->otext, t) < 0 ||
            sout_obj(&B->oref, m) < 0 || buf_i32(&B->soff, o) < 0)
            goto out;
    }
    PyObject *ok = PyDict_GetItemString(meta, "ok"),
             *mode = PyDict_GetItemString(meta, "mode"),
             *err = PyDict_GetItemString(meta, "error"),
             *np = PyDict_GetItemString(meta, "n_pages"),
             *bi = PyDict_GetItemString(meta, "bytes_in");
    if (!ok || !mode || !err || !np || !bi) {
        PyErr_SetString(PyExc_KeyError, "extract_batch: row meta");
        goto out;
    }
    int okv = PyObject_IsTrue(ok);
    long long npv = PyLong_AsLongLong(np), biv = PyLong_AsLongLong(bi);
    if (okv < 0 || PyErr_Occurred())
        goto out;
    rc = batch_row(B, okv, mode, err, npv, PyList_GET_SIZE(spans), biv,
                   now_ms() - t0);
out:
    Py_DECREF(res);
    return rc;
}

/* extract_batch(n, list_offsets, list_offset, kind, text, media_ref,
 * passwords, strict, newline_threshold, space_threshold,
 * tj_space_threshold, include_artifacts, reader_factory, link_density_max,
 * min_block_chars, max_tree_depth, _safe_decode, run_row): the batch's n
 * documents.  list_offsets is the spans list array's int32 offsets
 * buffer, list_offset its array offset; kind, text and media_ref are the
 * struct fields' (offset, validity or None, offsets, data); passwords a
 * list or None; reader_factory(data) builds a document's PdfReader for a
 * Python step (doc_reader).  A document handed back runs as
 * run_row(row, triples),
 * which returns its (spans, meta).  Returns the output columns: the span
 * kind, text and media_ref as (validity or None, offsets, data, nulls),
 * the span offsets, the list offsets, then ok (one byte per row), mode and
 * error as string columns, n_pages, n_spans, bytes_in and wall_ms. */
static PyObject *extract_batch(PyObject *self, PyObject *args)
{
    PyObject *lofs_obj, *kind_t, *text_t, *ref_t, *passwords, *run_row;
    Py_ssize_t n, loff;
    Py_buffer lb;
    Batch B;
    memset(&B, 0, sizeof(B));
    if (!PyArg_ParseTuple(args, "nOnO!O!O!OpdddpOdnlOO", &n, &lofs_obj,
                          &loff, &PyTuple_Type, &kind_t, &PyTuple_Type,
                          &text_t, &PyTuple_Type, &ref_t, &passwords,
                          &B.strict, &B.nl_thr, &B.sp_thr, &B.tj_thr,
                          &B.inc_art, &B.reader_factory, &B.link_density_max,
                          &B.min_block_chars, &B.max_depth, &B.safe_decode,
                          &run_row))
        return NULL;
    if (!g_extract_font_info || !g_cmap_cls || !g_scan_bi || !g_unescape) {
        PyErr_SetString(PyExc_RuntimeError,
                        "extract_batch requires the setup calls");
        return NULL;
    }
    if (n < 0 || loff < 0 ||
        (passwords != Py_None &&
         !(PyList_Check(passwords) && PyList_GET_SIZE(passwords) >= n))) {
        PyErr_SetString(PyExc_ValueError, "extract_batch: column shapes");
        return NULL;
    }
    if (PyObject_GetBuffer(lofs_obj, &lb, PyBUF_SIMPLE) < 0)
        return NULL;
    PyObject *res = NULL;
    if (lb.len / 4 < loff + n + 1) {
        PyErr_SetString(PyExc_ValueError, "extract_batch: list offsets");
        goto done;
    }
    const int32_t *lofs = (const int32_t *)lb.buf + loff;
    if (sin_open(&B.kind, kind_t) < 0 || sin_open(&B.text, text_t) < 0 ||
        sin_open(&B.ref, ref_t) < 0)
        goto done;
    B.payload_spans = PyList_New(0);
    B.shared_fi = PyDict_New();
    if (!B.payload_spans || !B.shared_fi || buf_i32(&B.lofs, 0) < 0)
        goto done;
    for (Py_ssize_t row = 0; row < n; row++) {
        Py_ssize_t lo = lofs[row], hi = lofs[row + 1];
        Py_ssize_t start = B.okind.n, k = 0;
        long long n_pages = 0, bytes_in = 0;
        PyObject *mode = s_strict;
        int reason = HB_SERVED, rc;
        double t0 = now_ms();
        if (lo < 0 || hi < lo)
            rc = hand_back(&reason, HB_PAYLOAD);
        else if (passwords != Py_None &&
                 PyList_GET_ITEM(passwords, row) != Py_None)
            rc = hand_back(&reason, HB_PASSWORD);
        else
            rc = batch_doc(&B, lo, hi, &reason, &n_pages, &bytes_in, &mode,
                           &k);
        if (rc < 0)
            goto done;
        g_batch_counts[reason]++;
        if (rc == 0) {
            if (PyList_SetSlice(B.payload_spans, 0,
                                PyList_GET_SIZE(B.payload_spans), NULL) < 0)
                goto done;
            sout_cut(&B.okind, start);
            sout_cut(&B.otext, start);
            sout_cut(&B.oref, start);
            B.soff.len = start * 4;
            if (batch_python_row(&B, run_row, row, lo, hi) < 0)
                goto done;
            continue;
        }
        if (batch_row(&B, 1, mode, Py_None, n_pages, k, bytes_in,
                      now_ms() - t0) < 0)
            goto done;
    }
    res = Py_BuildValue(
        "(NNNNNNNNNNNNN)", sout_finish(&B.okind), sout_finish(&B.otext),
        sout_finish(&B.oref), buf_bytes(&B.soff), buf_bytes(&B.lofs),
        bits_bytes(&B.ok), sout_finish(&B.omode), sout_finish(&B.oerr),
        buf_bytes(&B.npages), buf_bytes(&B.nspans), buf_bytes(&B.bytes_in),
        buf_bytes(&B.wall), PyLong_FromSsize_t(B.okind.n));
done:
    PyBuffer_Release(&lb);
    sin_close(&B.kind);
    sin_close(&B.text);
    sin_close(&B.ref);
    sout_free(&B.okind);
    sout_free(&B.otext);
    sout_free(&B.oref);
    sout_free(&B.omode);
    sout_free(&B.oerr);
    free(B.soff.p);
    free(B.lofs.p);
    free(B.ok.p);
    free(B.npages.p);
    free(B.nspans.p);
    free(B.bytes_in.p);
    free(B.wall.p);
    Py_XDECREF(B.payload_spans);
    Py_XDECREF(B.shared_fi);
    return res;
}

/* batch_counts(reset=False): {reason: documents} of extract_batch since
 * the module loaded or the last reset ("served", then each hand-back
 * reason) */
static PyObject *batch_counts(PyObject *self, PyObject *args)
{
    int reset = 0;
    if (!PyArg_ParseTuple(args, "|p", &reset))
        return NULL;
    PyObject *d = PyDict_New();
    for (int i = 0; d && i < HB_N; i++) {
        PyObject *v = PyLong_FromLongLong(g_batch_counts[i]);
        if (!v || PyDict_SetItemString(d, hb_names[i], v) < 0)
            Py_CLEAR(d);
        Py_XDECREF(v);
    }
    if (d && reset)
        memset(g_batch_counts, 0, sizeof(g_batch_counts));
    return d;
}

/* ---- setup -------------------------------------------------------------- */
/* Replace a module global: incref the new value, release the previously
 * installed one (setup may be called more than once if content.py is
 * imported under two module identities, e.g. a zip deployment). */
static void install_global(PyObject **slot, PyObject *value)
{
    Py_INCREF(value);
    Py_XDECREF(*slot);
    *slot = value;
}

static PyObject *setup(PyObject *self, PyObject *args)
{
    PyObject *markers, *name_memo, *decode_name, *inline_tok, *hexval,
        *bi_helper, *bdc_helper, *scan_bi;
    if (!PyArg_ParseTuple(args, "OOOOOOOO", &markers, &name_memo,
                          &decode_name, &inline_tok, &hexval,
                          &bi_helper, &bdc_helper, &scan_bi))
        return NULL;
    if (!PyTuple_Check(markers) || PyTuple_GET_SIZE(markers) != 4) {
        PyErr_SetString(PyExc_TypeError, "markers must be a 4-tuple");
        return NULL;
    }
    install_global(&g_AO, PyTuple_GET_ITEM(markers, 0));
    install_global(&g_AC, PyTuple_GET_ITEM(markers, 1));
    install_global(&g_DO, PyTuple_GET_ITEM(markers, 2));
    install_global(&g_DC, PyTuple_GET_ITEM(markers, 3));
    install_global(&g_name_memo, name_memo);
    install_global(&g_decode_name, decode_name);
    install_global(&g_inline_tok, inline_tok);
    install_global(&g_hexval, hexval);
    install_global(&g_bi_helper, bi_helper);
    install_global(&g_bdc_helper, bdc_helper);
    install_global(&g_scan_bi, scan_bi);
    Py_RETURN_NONE;
}

static PyObject *setup_obj(PyObject *self, PyObject *args)
{
    PyObject *ref_cls, *obj_name_memo, *decode_name_obj, *stream_cls;
    if (!PyArg_ParseTuple(args, "OOOO", &ref_cls, &obj_name_memo,
                          &decode_name_obj, &stream_cls))
        return NULL;
    if (!PyType_Check(ref_cls) || !PyType_Check(stream_cls)) {
        PyErr_SetString(PyExc_TypeError, "Ref and Stream must be classes");
        return NULL;
    }
    install_global(&g_ref_cls, ref_cls);
    install_global(&g_stream_cls, stream_cls);
    names_clear();
    {
        PyTypeObject *t = (PyTypeObject *)ref_cls;
        g_ref_is_tuple = PyType_IsSubtype(t, &PyTuple_Type) &&
                         t->tp_basicsize == PyTuple_Type.tp_basicsize &&
                         t->tp_itemsize == PyTuple_Type.tp_itemsize &&
                         t->tp_dictoffset == 0;
    }
    install_global(&g_obj_name_memo, obj_name_memo);
    install_global(&g_decode_name_obj, decode_name_obj);
    Py_RETURN_NONE;
}

static PyObject *setup_layout(PyObject *self, PyObject *args)
{
    PyObject *frag_cls, *font_style, *frag_env;
    if (!PyArg_ParseTuple(args, "OOO", &frag_cls, &font_style, &frag_env))
        return NULL;
    install_global(&g_frag_cls, frag_cls);
    install_global(&g_font_style, font_style);
    install_global(&g_frag_env, frag_env);
    Py_RETURN_NONE;
}

/* ---- merge_close: C transcription of LayoutProcessor.merge_close_fragments
 * (layout.py, extraction.rs:1598-1669 lineage).  Kerning-artifact merge:
 * a linear pass over emission-ordered fragments gluing runs on the same
 * baseline with sub-half-space gaps.  Fast path requires every element
 * to be a CFrag (the C interpreter's output) — anything else returns
 * None and the caller runs the pure-Python authority.  The per-fragment
 * space-gap threshold is delegated to the Python callable (it reads the
 * page's font metrics) with a last-(font,size) memo — consecutive
 * fragments almost always share a font. */
static PyObject *merge_close(PyObject *self, PyObject *args)
{
    PyObject *list, *gap_cb;
    int reconstruct;
    if (!PyArg_ParseTuple(args, "OpO", &list, &reconstruct, &gap_cb))
        return NULL;
    if (!PyList_Check(list))
        Py_RETURN_NONE;
    Py_ssize_t n = PyList_GET_SIZE(list);
    PyObject *out = PyList_New(0);
    if (!out)
        return NULL;
    if (n == 0)
        return out;
    for (Py_ssize_t i = 0; i < n; i++)
        if (Py_TYPE(PyList_GET_ITEM(list, i)) != &CFragType) {
            Py_DECREF(out);
            Py_RETURN_NONE; /* bail: pure-Python fragments */
        }

    PyObject *pieces = PyList_New(0); /* current segment's text runs */
    if (!pieces) {
        Py_DECREF(out);
        return NULL;
    }
    CFrag *head = (CFrag *)PyList_GET_ITEM(list, 0);
    if (PyList_Append(pieces, head->text) < 0)
        goto fail;
    double cx = head->x, cy = head->y, cw = head->width;
    double cfs = head->font_size;
    /* last-(font_name identity, font_size) gap-threshold memo */
    PyObject *memo_fn = NULL;
    double memo_fs = 0.0, memo_thr = 0.0;
    int memo_ok = 0;

    for (Py_ssize_t i = 1; i < n; i++) {
        CFrag *f = (CFrag *)PyList_GET_ITEM(list, i);
        double y_diff = fabs(cy - f->y);
        double x_gap = f->x - (cx + cw);
        double y_tol;
        if (reconstruct) {
            double base =
                0.5 * (cfs < f->font_size ? cfs : f->font_size);
            y_tol = base > 0.0 ? base : 1.0;
        } else
            y_tol = 1.0;
        int should_merge = 0;
        if (y_diff < y_tol && x_gap >= 0.0 &&
            x_gap < f->font_size * 0.5) {
            int eq = PyObject_RichCompareBool(head->mcid, f->mcid, Py_EQ);
            if (eq < 0)
                goto fail;
            should_merge = eq;
        }
        if (should_merge) {
            double thr;
            if (memo_ok && memo_fn == f->font_name &&
                memo_fs == f->font_size) {
                thr = memo_thr;
            } else {
                PyObject *r = PyObject_CallOneArg(gap_cb, (PyObject *)f);
                if (!r)
                    goto fail;
                thr = PyFloat_AsDouble(r);
                Py_DECREF(r);
                if (thr == -1.0 && PyErr_Occurred())
                    goto fail;
                memo_fn = f->font_name;
                memo_fs = f->font_size;
                memo_thr = thr;
                memo_ok = 1;
            }
            if (x_gap > thr) {
                if (PyList_Append(pieces, g_sp) < 0)
                    goto fail;
            }
            if (PyList_Append(pieces, f->text) < 0)
                goto fail;
            cw = (f->x + f->width) - cx;
        } else {
            /* flush the segment as one merged fragment */
            CFrag *m = cfrag_alloc();
            if (!m)
                goto fail;
            PyObject *txt;
            if (PyList_GET_SIZE(pieces) == 1) {
                txt = PyList_GET_ITEM(pieces, 0);
                Py_INCREF(txt);
            } else {
                txt = PyUnicode_Join(g_empty, pieces);
                if (!txt) {
                    Py_DECREF(m);
                    goto fail;
                }
            }
            m->text = txt;
            Py_XINCREF(head->font_name);
            Py_XINCREF(head->color);
            Py_XINCREF(head->mcid);
            Py_XINCREF(head->struct_tag);
            m->font_name = head->font_name;
            m->color = head->color;
            m->mcid = head->mcid;
            m->struct_tag = head->struct_tag;
            m->x = cx;
            m->y = cy;
            m->width = cw;
            m->height = head->height;
            m->font_size = head->font_size;
            m->is_bold = head->is_bold;
            m->is_italic = head->is_italic;
            int rc = PyList_Append(out, (PyObject *)m);
            Py_DECREF(m);
            if (rc < 0)
                goto fail;
            head = f;
            if (PyList_SetSlice(pieces, 0, PyList_GET_SIZE(pieces), NULL) < 0)
                goto fail;
            if (PyList_Append(pieces, f->text) < 0)
                goto fail;
            cx = f->x;
            cy = f->y;
            cw = f->width;
            cfs = f->font_size;
        }
    }
    {
        CFrag *m = cfrag_alloc();
        if (!m)
            goto fail;
        PyObject *txt;
        if (PyList_GET_SIZE(pieces) == 1) {
            txt = PyList_GET_ITEM(pieces, 0);
            Py_INCREF(txt);
        } else {
            txt = PyUnicode_Join(g_empty, pieces);
            if (!txt) {
                Py_DECREF(m);
                goto fail;
            }
        }
        m->text = txt;
        Py_XINCREF(head->font_name);
        Py_XINCREF(head->color);
        Py_XINCREF(head->mcid);
        Py_XINCREF(head->struct_tag);
        m->font_name = head->font_name;
        m->color = head->color;
        m->mcid = head->mcid;
        m->struct_tag = head->struct_tag;
        m->x = cx;
        m->y = cy;
        m->width = cw;
        m->height = head->height;
        m->font_size = head->font_size;
        m->is_bold = head->is_bold;
        m->is_italic = head->is_italic;
        int rc = PyList_Append(out, (PyObject *)m);
        Py_DECREF(m);
        if (rc < 0)
            goto fail;
    }
    Py_DECREF(pieces);
    return out;
fail:
    Py_DECREF(pieces);
    Py_DECREF(out);
    return NULL;
}

/* ---- reconstruct_text: C transcription of the post-merge text rebuild
 * (LayoutProcessor.reconstruct_text_from_fragments' loop body,
 * extraction.rs:1558-1596).  Takes the ALREADY-MERGED fragment list;
 * bails (None) on any non-CFrag element. */
static PyObject *reconstruct_text(PyObject *self, PyObject *args)
{
    PyObject *list;
    double nl_thr, sp_thr;
    int merge_hyph;
    if (!PyArg_ParseTuple(args, "Oddp", &list, &nl_thr, &sp_thr,
                          &merge_hyph))
        return NULL;
    if (!PyList_Check(list))
        Py_RETURN_NONE;
    Py_ssize_t n = PyList_GET_SIZE(list);
    for (Py_ssize_t i = 0; i < n; i++)
        if (Py_TYPE(PyList_GET_ITEM(list, i)) != &CFragType)
            Py_RETURN_NONE;
    PyObject *parts = PyList_New(0);
    if (!parts)
        return NULL;
    double last_y = INFINITY, last_x = 0.0;
    int last_hyphen = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        CFrag *f = (CFrag *)PyList_GET_ITEM(list, i);
        double y_diff = fabs(last_y - f->y);
        Py_ssize_t np = PyList_GET_SIZE(parts);
        if (np && y_diff > nl_thr) {
            if (merge_hyph && last_hyphen) {
                PyObject *last = PyList_GET_ITEM(parts, np - 1);
                Py_ssize_t ll = PyUnicode_GET_LENGTH(last);
                if (ll > 0 &&
                    PyUnicode_READ_CHAR(last, ll - 1) == '-') {
                    PyObject *trim = PyUnicode_Substring(last, 0, ll - 1);
                    if (!trim)
                        goto fail;
                    if (PyList_SetItem(parts, np - 1, trim) < 0)
                        goto fail; /* SetItem stole trim */
                }
            } else {
                if (PyList_Append(parts, g_nl) < 0)
                    goto fail;
            }
        } else if (np) {
            double x_gap = f->x - last_x;
            if (x_gap > sp_thr * f->font_size) {
                if (PyList_Append(parts, g_sp) < 0)
                    goto fail;
            }
        }
        if (PyList_Append(parts, f->text) < 0)
            goto fail;
        Py_ssize_t tl = PyUnicode_GET_LENGTH(f->text);
        last_hyphen = tl > 0 && PyUnicode_READ_CHAR(f->text, tl - 1) == '-';
        last_y = f->y;
        last_x = f->x + f->width;
    }
    {
        PyObject *joined = PyUnicode_Join(g_empty, parts);
        Py_DECREF(parts);
        return joined;
    }
fail:
    Py_DECREF(parts);
    return NULL;
}

static PyMethodDef methods[] = {
    {"setup", setup, METH_VARARGS, "install shared objects"},
    {"setup_obj", setup_obj, METH_VARARGS,
     "install object-parser shared objects"},
    {"setup_layout", setup_layout, METH_VARARGS,
     "install layout-stage helpers (TextFragment, parse_font_style, "
     "frag env)"},
    {"merge_close", merge_close, METH_VARARGS,
     "merge_close_fragments fast path over CFrag lists; None = bail"},
    {"reconstruct_text", reconstruct_text, METH_VARARGS,
     "post-merge text rebuild over CFrag lists; None = bail"},
    {"setup_html", setup_html, METH_VARARGS,
     "install html-path helpers (unescape, ws_collapse, boiler_value)"},
    {"html_events", html_events_py, METH_VARARGS,
     "HTML main-content events+links; None = bail to Python"},
    {"parse_xref_section", parse_xref_section, METH_VARARGS,
     "strict 20-byte traditional xref section + trailer; None = bail"},
    {"xref_chain", xref_chain, METH_VARARGS,
     "parse_xref_chain -> (entries, trailer, mode); None = bail"},
    {"recover_xref", recover_xref_c, METH_VARARGS,
     "recover_xref -> (entries, trailer); None = bail"},
    {"get_object", c_get_object, METH_VARARGS,
     "reader.get_object for cached/free/in-use/compressed entries; "
     "BAIL = bail"},
    {"setup_filters", setup_filters, METH_VARARGS,
     "install zlib.decompressobj and the filters.py size and ratio caps"},
    {"decode_stream", decode_stream, METH_VARARGS,
     "the native filter chain's bytes for (dict, raw), or None where "
     "Stream.decode decodes"},
    {"filter_counts", filter_counts, METH_VARARGS,
     "streams decoded natively by filter and handed to Stream.decode by "
     "reason, per call site"},
    {"lzw_decode", lzw_decode, METH_VARARGS,
     "decode_lzw -> bytes, or the FilterError message as str"},
    {"flatten_pages", flatten_pages, METH_VARARGS,
     "flatten_page_tree's Page list; None = bail"},
    {"page_content", page_content_c, METH_VARARGS,
     "page_content's joined /Contents bytes; None = bail"},
    {"setup_fonts", setup_fonts, METH_VARARGS,
     "install font-path classes, helpers and base encoding tables"},
    {"parse_cmap", parse_cmap, METH_O,
     "CMap.parse's CMap; BAIL = bail"},
    {"run_page", run_page, METH_VARARGS,
     "run the fast content loop; None on completion"},
    {"run_pages", run_pages, METH_VARARGS,
     "run a document's pages natively from start; the first page not "
     "served, or None = the document is not served"},
    {"extract_batch", extract_batch, METH_VARARGS,
     "run one Arrow batch's documents; a document not served runs as "
     "run_row(row)"},
    {"batch_counts", batch_counts, METH_VARARGS,
     "extract_batch's documents served and handed back, by reason"},
    {"html_spans", html_spans, METH_VARARGS,
     "extract_html_spans' span list; None = bail to Python"},
    {"parse_indirect", parse_indirect, METH_VARARGS,
     "fast `N G obj value [stream]` parse; None = fall back to Python"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "oxpdf_cscan", NULL, -1, methods,
};

PyMODINIT_FUNC PyInit_oxpdf_cscan(void)
{
#define IN(var, s)                                                            \
    do {                                                                      \
        var = PyUnicode_InternFromString(s);                                  \
        if (!var)                                                             \
            return NULL;                                                      \
    } while (0)
    IN(a_state, "state");
    IN(a_options, "options");
    IN(a_in_text, "in_text");
    IN(a_total, "_total");
    IN(a_last_x, "last_x");
    IN(a_last_y, "last_y");
    IN(a_last_char, "_last_char");
    IN(a_text_parts, "text_parts");
    IN(a_font_memo, "_font_memo");
    IN(a_decode, "_decode");
    IN(a_set_font_memo, "_set_font_memo");
    IN(a_paint_xobject, "_paint_xobject");
    IN(a_op_bmc, "_op_bmc");
    IN(a_op_emc, "_op_emc");
    IN(a_next_line_show, "_next_line_show");
    IN(a_text_matrix, "text_matrix");
    IN(a_text_line_matrix, "text_line_matrix");
    IN(a_ctm, "ctm");
    IN(a_leading, "leading");
    IN(a_char_space, "char_space");
    IN(a_word_space, "word_space");
    IN(a_horizontal_scale, "horizontal_scale");
    IN(a_text_rise, "text_rise");
    IN(a_font_size, "font_size");
    IN(a_font_name, "font_name");
    IN(a_render_mode, "render_mode");
    IN(a_fill_color, "fill_color");
    IN(a_saved, "saved");
    IN(a_artifact_n, "artifact_n");
    IN(a_newline_threshold, "newline_threshold");
    IN(a_space_threshold, "space_threshold");
    IN(a_tj_space_threshold, "tj_space_threshold");
    IN(a_include_artifacts, "include_artifacts");
    IN(a_layout, "_layout");
    IN(a_fragments, "fragments");
    IN(a_pending_absorb, "_pending_absorb");
    IN(s_data, "data");
    IN(s_xref, "xref");
    IN(s_cache, "_cache");
    IN(s_resolving, "_resolving");
    IN(s_lenient, "lenient");
    IN(s_decryptor, "decryptor");
    IN(s_mode, "mode");
    IN(s_trailer, "trailer");
    IN(s_strict, "strict");
    IN(s_join, "join");
    IN(s_dict, "dict");
    IN(s_raw, "raw");
    IN(k_Length, "Length");
    IN(k_Root, "Root");
    IN(k_Pages, "Pages");
    IN(k_Type, "Type");
    IN(k_Kids, "Kids");
    IN(k_Contents, "Contents");
    IN(k_Resources, "Resources");
    IN(k_MediaBox, "MediaBox");
    IN(k_Filter, "Filter");
    IN(k_DecodeParms, "DecodeParms");
    IN(k_DP, "DP");
    IN(k_Prev, "Prev");
    IN(k_XRefStm, "XRefStm");
    IN(k_Page, "Page");
    IN(s_objstm_cache, "_objstm_cache");
    IN(s_recovered, "recovered");
    IN(s_resolve, "resolve");
    IN(s_decode, "decode");
    IN(k_W, "W");
    IN(k_Size, "Size");
    IN(k_Index, "Index");
    IN(k_N, "N");
    IN(k_First, "First");
    IN(k_Info, "Info");
    IN(k_ID, "ID");
    IN(g_c_str, "c");
    IN(s_decompress, "decompress");
    IN(s_flush, "flush");
    IN(k_Predictor, "Predictor");
    IN(k_Columns, "Columns");
    IN(k_Colors, "Colors");
    IN(k_Bpc, "BitsPerComponent");
    IN(k_EarlyChange, "EarlyChange");
    IN(f_name, "name");
    IN(f_font_type, "font_type");
    IN(f_encoding, "encoding");
    IN(f_to_unicode, "to_unicode");
    IN(f_differences, "differences");
    IN(f_descendant_font, "descendant_font");
    IN(f_first_char, "first_char");
    IN(f_last_char, "last_char");
    IN(f_widths, "widths");
    IN(f_missing_width, "missing_width");
    IN(f_cid_widths, "cid_widths");
    IN(f_code_table, "_code_table");
    IN(f_fonts, "fonts");
    IN(m_cmap_type, "cmap_type");
    IN(m_wmode, "wmode");
    IN(m_codespace_ranges, "codespace_ranges");
    IN(m_ranges, "ranges");
    IN(m_single, "single");
    IN(m_inherited_predefined, "inherited_predefined");
    IN(s_fontinfo_cache, "_fontinfo_cache");
    IN(s_span_memo, "_span_decode_memo");
    IN(s_resources, "resources");
    IN(k_Font, "Font");
    IN(k_XObject, "XObject");
    IN(k_Subtype, "Subtype");
    IN(k_Properties, "Properties");
    IN(k_Encrypt, "Encrypt");
    IN(g_b85_str, "b85:");
    IN(g_text_str, "text");
    IN(g_image_str, "image");
    IN(g_fb_win, "WinAnsiEncoding");
    IN(g_fb_mac, "MacRomanEncoding");
    IN(g_fb_std, "StandardEncoding");
    IN(g_fb_pdfdoc, "PdfDocEncoding");
    for (HTag *e = h_tags; e->name; e++) {
        IN(e->obj, e->name);
        e->len = (Py_ssize_t)strlen(e->name);
        HTag **b = h_bucket[h_tag_hash(e->name, e->len)];
        int i = 0;
        while (i < 4 && b[i])
            i++;
        if (i == 4) {
            PyErr_SetString(PyExc_RuntimeError, "HTML tag table bucket full");
            return NULL;
        }
        b[i] = e;
    }
    k_inheritable[0] = k_Resources;
    k_inheritable[1] = k_MediaBox;
    IN(k_inheritable[2], "CropBox");
    IN(k_inheritable[3], "Rotate");
#undef IN
    g_space_bytes = PyBytes_FromString(" ");
    if (!g_space_bytes)
        return NULL;
    g_nl = PyUnicode_InternFromString("\n");
    g_sp = PyUnicode_InternFromString(" ");
    g_empty = PyUnicode_InternFromString("");
    g_gray = PyUnicode_InternFromString("gray");
    g_rgb = PyUnicode_InternFromString("rgb");
    g_cmyk = PyUnicode_InternFromString("cmyk");
    g_ev_text = PyUnicode_InternFromString("text");
    g_ev_img = PyUnicode_InternFromString("img");
    g_lt_str = PyUnicode_InternFromString("<");
    g_n_str = PyUnicode_InternFromString("n");
    g_f_str = PyUnicode_InternFromString("f");
    if (!g_nl || !g_sp || !g_empty || !g_gray || !g_rgb || !g_cmyk ||
        !g_ev_text || !g_ev_img || !g_lt_str || !g_n_str || !g_f_str)
        return NULL;
    if (PyType_Ready(&CFragType) < 0)
        return NULL;
    PyObject *mod = PyModule_Create(&moduledef);
    if (!mod)
        return NULL;
    Py_INCREF(&CFragType);
    if (PyModule_AddObject(mod, "CFrag", (PyObject *)&CFragType) < 0) {
        Py_DECREF(&CFragType);
        Py_DECREF(mod);
        return NULL;
    }
    /* get_object's "not handled here" answer (None is a valid object) */
    g_bail = PyObject_CallNoArgs((PyObject *)&PyBaseObject_Type);
    if (!g_bail || PyModule_AddObjectRef(mod, "BAIL", g_bail) < 0) {
        Py_DECREF(mod);
        return NULL;
    }
    return mod;
}
